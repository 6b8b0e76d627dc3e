package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Extract, Runner, Validate}
import perfbench.Main.{Ctx, Outcome}

/** The batch pipeline over generated GitHub pages: paginated extract
  * through an in-memory fetcher with injected 429/5xx answers, the raw
  * layer written as the JSON arrays `Runner.run` reads, the clean layer,
  * and the constraint audits over the five clean tables.
  *
  * `pipeline_batch` runs each generation into its own output directory.
  * `pipeline_generations` runs them into one directory, so every run after
  * the first must accumulate the owner and user dimensions.
  */
object PipelineWorkload {

  /** Retries seen by the fetch policy's sleep hook (one JVM at local[n]). */
  object Counters { val retries = new AtomicLong }

  /** Serves a generation's pages; the first attempt at a faulted
    * (path, page) answers 429 or 503. */
  final class PageTransport(pages: Map[String, Vector[String]], salt: Long)
      extends ((String, Int) => (Int, String)) with Serializable {
    @transient private lazy val tried = new ConcurrentHashMap[String, java.lang.Boolean]()
    def apply(path: String, page: Int): (Int, String) =
      if (GitHubGen.faulted(salt, path, page) && tried.putIfAbsent(s"$path#$page", true) == null)
        (if (page % 2 == 0) 429 else 503, "")
      else pages.get(path).flatMap(_.lift(page - 1)).fold((200, "[]"))(200 -> _)
  }

  val Generations = 8
  private val IngestedAt = lit("2026-01-01 00:00:00").cast("timestamp")

  final case class OpStats(extractS: Double, runnerS: Double, validateS: Double,
      pages: Long, retries: Long, rowsIn: Long, rowsOut: Long, violations: Long)

  def batch(ctx: Ctx): Outcome = run(ctx, accumulate = false)

  def generations(ctx: Ctx): Outcome = run(ctx, accumulate = true)

  private def run(ctx: Ctx, accumulate: Boolean): Outcome = {
    val spark = ctx.spark
    val base = ctx.a.work.resolve("pipeline")
    val stage = (1 to 3).map(_ => Main.time(
      (1 to Generations).map(g => GitHubGen.generation(ctx.a.seed, g)))._2)
    val gens = (1 to Generations).map(g => GitHubGen.generation(ctx.a.seed, g))

    val failures = Vector.newBuilder[String]
    val stats = Vector.newBuilder[OpStats]
    var rows = 0L
    def op(i: Int, tag: String, out: Path, expect: GitHubGen.Truth => GitHubGen.Truth): Double = {
      val gen = gens(i % Generations)
      val raw = base.resolve(s"$tag$i-raw")
      val t0 = System.nanoTime()
      val result = try Right(once(ctx, gen, raw, out, tag + i)) catch { case e: Throwable =>
        Left(s"exception ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).map(_.linesIterator.take(1).mkString).getOrElse(""))
      }
      val s = (System.nanoTime() - t0) / 1e9
      result match {
        case Right(r) =>
          stats += r.stats
          val bad = check(spark, out, r, expect(gen.truth))
          if (bad.isEmpty) rows += r.stats.rowsOut
          else failures += s"generation ${i + 1}: ${bad.mkString("; ")}"
        case Left(err) => failures += s"generation ${i + 1}: $err"
      }
      s
    }

    if (!accumulate) {
      val warm = op(0, "warm", base.resolve("warm-out"), identity)
      failures.result().foreach(e => System.err.println(s"[perfbench] warm-up: $e"))
      failures.clear(); stats.clear(); rows = 0L
      val (lat, wall) = ctx.measure(minOps = 2)(i => op(i, "op", base.resolve(s"op$i-out"), identity))
      finish(ctx, lat, wall, rows, failures.result(), stage, warm, stats.result())
    } else {
      // one output directory; owners and users accumulate across runs
      val out = base.resolve("gen-out")
      val (lat, wall) = ctx.measure(minOps = 4) { i =>
        val seen = gens.take(i % Generations + 1)
        op(i, "gen", out, t => t.copy(
          owners = seen.flatMap(_.truth.owners).toSet,
          users = seen.flatMap(_.truth.users).toSet))
      }
      finish(ctx, lat, wall, rows, failures.result(), stage, 0.0, stats.result())
    }
  }

  private def finish(ctx: Ctx, lat: Seq[Double], wall: Double, rows: Long,
      failures: Seq[String], stage: Seq[Double], warm: Double, stats: Seq[OpStats]): Outcome = {
    def med(f: OpStats => Double) = Stats.median(stats.map(f))
    def mean(f: OpStats => Long) = stats.map(f).sum.toDouble / math.max(1, stats.size)
    val layers = if (!ctx.a.trace) Nil else Seq(
      ("extract.s", med(_.extractS), "s"),
      ("extract.pages", mean(_.pages), "count"),
      ("extract.retries", mean(_.retries), "count"),
      ("runner.s", med(_.runnerS), "s"),
      ("runner.rows_in", mean(_.rowsIn), "count"),
      ("runner.rows_out", mean(_.rowsOut), "count"),
      ("validate.s", med(_.validateS), "s"),
      ("validate.violations", mean(_.violations), "count"))
    Outcome(lat, wall, rows, failures, stage, warm, layers)
  }

  final case class Once(stats: OpStats, audits: Seq[Runner.Audit], violations: Map[String, Long])

  /** Extract → raw JSON arrays → `Runner.run` → `Validate.report`. */
  private def once(ctx: Ctx, gen: GitHubGen.Generation, raw: Path, out: Path, tag: String): Once = {
    val spark = ctx.spark
    val cfg = Extract.Config(gen.org, perPage = GitHubGen.PerPage, maxPages = GitHubGen.MaxPages)
    val fetcher = Extract.httpFetcher(new PageTransport(gen.pages, gen.faultSalt))
    val retry = Extract.RetryPolicy(sleep = (_: Long) => { Counters.retries.incrementAndGet(); () })
    val retries0 = Counters.retries.get
    val ((pages, _), extractS) = Main.time(ctx.tracer(s"extract#$tag") {
      val repoPages = ctx.tracer(s"fetchPages#$tag")(
        Extract.fetchPages(fetcher, s"/users/${gen.org}/repos", cfg, retry))
      val repos = Extract.parsePages(spark, repoPages, graft.pipeline.Schemas.reposRaw)
      val names = Extract.eligibleRepoNames(repos)
      def perRepo(kind: String, schema: org.apache.spark.sql.types.StructType) =
        ctx.tracer(s"extractPerRepo:$kind#$tag")(
          Extract.extractPerRepo(spark, fetcher, cfg, names, kind, schema, retry))
      Files.createDirectories(raw)
      writeArray(raw.resolve("repos_raw.json"), repos)
      val issuePages = writeArray(raw.resolve("issues_raw.json"),
        perRepo("issues", graft.pipeline.Schemas.issuesRaw))
      val branchPages = writeArray(raw.resolve("branches_raw.json"),
        perRepo("branches", graft.pipeline.Schemas.branchesRaw))
      (repoPages.size + issuePages + branchPages, names)
    })
    val (audits, runnerS) = Main.time(ctx.tracer(s"runner#$tag")(
      Runner.run(spark, raw.toString, out.toString, IngestedAt)))
    val (viol, validateS) = Main.time(ctx.tracer(s"validate#$tag")(
      Validate.report(rules(spark, out))))
    Once(OpStats(extractS, runnerS, validateS, pages.toLong,
      Counters.retries.get - retries0,
      audits.map(_.rowsIn).sum, audits.map(_.rowsOut).sum, viol.map(_.count).sum),
      audits, viol.map(v => v.rule -> v.count).toMap)
  }

  /** Persist one extracted entity as the JSON array file the Runner reads,
    * in arrival order (repo, page, position); one job, so every page is
    * fetched once. Returns the number of (repo, page) pairs seen. */
  private def writeArray(p: Path, df: DataFrame): Int = {
    val repo = if (df.columns.contains("repo_name")) col("repo_name") else lit("")
    val rows = df.select(repo.as("r"), col("_ingest_ord").as("o"),
        to_json(struct(df.columns.filterNot(_ == "_ingest_ord").map(col): _*)).as("j"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(r => (r._1, r._2))
    Files.write(p, rows.map(_._3).mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
    rows.map(r => (r._1, r._2 / 1000000L)).distinct.length
  }

  /** The warehouse DDL's constraint families over the five clean tables. */
  def rules(spark: SparkSession, out: Path): Seq[(String, DataFrame)] = {
    def t(n: String) = spark.read.parquet(out.resolve(s"${n}_clean").toString)
    val (repos, owners, branches, issues, users) =
      (t("repos"), t("owners"), t("branches"), t("issues"), t("users"))
    Seq(
      "repos_pk" -> Validate.uniqueViolations(repos, Seq("repo_id")),
      "owners_pk" -> Validate.uniqueViolations(owners, Seq("owner_id")),
      "branches_pk" -> Validate.uniqueViolations(branches, Seq("branch_id")),
      "issues_pk" -> Validate.uniqueViolations(issues, Seq("issue_id")),
      "users_pk" -> Validate.uniqueViolations(users, Seq("user_id")),
      "repos_fk_owner" -> Validate.fkOrphans(repos, "owner_id", owners, "owner_id"),
      "branches_fk_repo" -> Validate.fkOrphans(branches, "repo_id", repos, "repo_id"),
      "issues_fk_repo" -> Validate.fkOrphans(issues, "repo_id", repos, "repo_id"),
      "issues_fk_author" -> Validate.fkOrphans(issues, "author_id", users, "user_id"),
      "branches_sha_hex" -> Validate.checkViolations(branches, Validate.isHexSha(col("commit_sha"))),
      "repos_visibility" -> Validate.checkViolations(repos, Validate.visibilityValid(col("visibility"))),
      "repos_stars_nonneg" -> Validate.checkViolations(repos, col("stargazers_count") >= 0),
      "issues_closed_after_created" -> Validate.checkViolations(issues,
        col("closed_at").isNull || col("closed_at") >= col("created_at")))
  }

  /** Per-entity row counts, owner and user key sets, planted violation
    * counts and fetch retries against the generator's ground truth. */
  private def check(spark: SparkSession, out: Path, r: Once, t: GitHubGen.Truth): Seq[String] = {
    val st = r.stats
    val got = r.audits.map(a => a.entity -> a.rowsOut).toMap
    val counts = Seq("repos" -> t.repos, "owners" -> t.owners.size.toLong,
      "branches" -> t.branches, "issues" -> t.issues, "users" -> t.users.size.toLong)
      .collect { case (e, want) if !got.get(e).contains(want) =>
        s"$e rows ${got.getOrElse(e, -1L)} != $want" }
    def keys(table: String, id: String, entity: String, want: Set[String]) = {
      val have = spark.read.parquet(out.resolve(s"${table}_clean").toString)
        .select(id).collect().map(_.getString(0)).toSet
      val exp = want.map(Uuid5.key(entity, _))
      if (have == exp) Nil
      else Seq(s"$table keys: ${(exp -- have).size} missing, ${(have -- exp).size} unexpected")
    }
    val viol = r.violations
    val violations = t.violations.toSeq.sortBy(_._1).collect {
      case (r, want) if !viol.get(r).contains(want) => s"$r violations ${viol.getOrElse(r, -1L)} != $want"
    }
    val fetch = if (st.retries == t.retries && st.pages == t.pages) Nil
      else Seq(s"fetch pages/retries ${st.pages}/${st.retries} != ${t.pages}/${t.retries}")
    counts ++ keys("owners", "owner_id", "owner", t.owners) ++
      keys("users", "user_id", "user", t.users) ++ violations ++ fetch
  }
}
