package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** End-to-end: the full pipeline over a synthetic raw set in the FIXTURES.md
  * A.1 shapes. A run is idempotent, keeps the previous run's output as the
  * backup generation, and accumulates the owner and user dimensions across
  * runs into one output directory. */
class RunnerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val ts = lit("2026-02-02 18:38:47").cast("timestamp")

  /** Raw set of run `n`: owner `o${99+n}` with repos `r<n>a` (delivered
    * twice, keep-last) and `r<n>b`, plus one ownerless repo; four branches,
    * one of them on the ownerless repo; three issues by user `u${199+n}`,
    * one of them on the ownerless repo (an FK orphan). */
  private def rawSet(n: Int): String = {
    val dir = Files.createTempDirectory("graft_runner_raw")
    val owner = s"o${99 + n}"
    val user = s"u${199 + n}"
    def repo(id: Int, name: String, login: Option[String], stars: Int) =
      s"""{"id": $id, "name": "$name", "full_name": "${login.getOrElse("ghost")}/$name",
         | "description": null, "topics": ["etl"], "language": "Scala",
         | "owner": ${login.fold("null")(l => s"""{"id": ${l.tail}, "login": "$l"}""")},
         | "visibility": "public", "private": false, "disabled": false,
         | "fork": false, "archived": false, "default_branch": "main",
         | "stargazers_count": $stars, "watchers_count": $stars,
         | "forks_count": 0, "forks": 0, "open_issues_count": 1,
         | "created_at": "2026-01-0${n}T00:00:00Z",
         | "updated_at": "2026-01-0${n}T01:00:00Z", "pushed_at": null}""".stripMargin
    def branch(repoName: String, name: String) =
      s"""{"name": "$name", "protected": false, "repo_name": "$repoName",
         | "commit": {"sha": "${"a" * 40}",
         |            "url": "u"}}""".stripMargin
    def issue(id: Int, repoName: String, number: Int) =
      s"""{"id": $id, "repo_name": "$repoName", "number": $number,
         | "title": "issue $number", "user": {"id": ${user.tail}, "login": "$user"},
         | "state": "open", "locked": false, "comments": 0,
         | "created_at": "2026-01-0${n}T02:00:00Z", "updated_at": null,
         | "closed_at": null, "labels": [{"name": "bug"}],
         | "assignee": {"id": ${user.tail}, "login": "$user"}}""".stripMargin
    val (a, b, ghost) = (s"r${n}a", s"r${n}b", s"r${n}ghost")
    def put(file: String, rows: Seq[String]): Unit =
      Files.write(dir.resolve(file), rows.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
    put("repos_raw.json", Seq(
      repo(10 * n + 1, a, Some(owner), 1),
      repo(10 * n + 2, b, Some(owner), 2),
      repo(10 * n + 3, ghost, None, 3),
      repo(10 * n + 1, a, Some(owner), 5)))
    put("branches_raw.json", Seq(
      branch(a, "main"), branch(b, "main"), branch(b, "dev"), branch(ghost, "main")))
    put("issues_raw.json", Seq(
      issue(100 * n + 1, a, 1), issue(100 * n + 2, b, 1), issue(100 * n + 3, ghost, 1)))
    dir.toString
  }

  /** (rowsIn, rowsOut) per entity for any `rawSet(n)`, from its construction:
    * repos drop the ownerless repo and the re-delivery; branches keep all
    * four (left FK join); issues drop the orphan; the two issues and their
    * assignee are one user; both repos have one owner. */
  private val expectedAudits = Seq(
    "repos" -> (4L, 2L), "owners" -> (2L, 1L), "branches" -> (4L, 4L),
    "issues" -> (3L, 2L), "users" -> (2L, 1L))

  private def rows(dir: String) = spark.read.parquet(dir).collect().toSet

  test("full run produces the fixture's row counts; re-run is idempotent") {
    val rawDir = rawSet(1)
    val outDir = Files.createTempDirectory("graft_runner").toString

    // Audits must ride the write jobs as Observation metrics (SURVEY §4) —
    // no job may originate from a count() in Runner (the reference's
    // len(df) double-scan audit, transform.py:121,140).
    val countJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        if (site.contains("count at") && site.contains("Runner"))
          countJobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val audits1 = Runner.run(spark, rawDir, outDir, ts)
    Thread.sleep(2000) // listener bus is async; let job-start events drain
    spark.sparkContext.removeSparkListener(listener)
    assert(countJobs.get() == 0,
      s"audits spawned ${countJobs.get()} count() scan jobs — must be observe()-only")
    assert(audits1.map(a => a.entity -> (a.rowsIn, a.rowsOut)) == expectedAudits)

    val repos1 = rows(s"$outDir/repos_clean")

    val audits2 = Runner.run(spark, rawDir, outDir, ts)
    assert(audits2 == audits1)
    val repos2 = rows(s"$outDir/repos_clean")
    assert(repos1 == repos2, "re-run must reproduce identical clean output")

    // rotation: after the second run the backup generation exists and is
    // itself the first run's output
    assert(rows(s"$outDir/repos_clean_backup") == repos1)
  }

  test("re-runs accumulate owners and users; backup is the previous run") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("graft_runner_acc").toString
    def logins(table: String, column: String) =
      spark.read.parquet(s"$outDir/$table").select(column).as[String].collect().toSet
    var previous = Map.empty[String, Set[org.apache.spark.sql.Row]]
    for (n <- 1 to 3) {
      Runner.run(spark, rawSet(n), outDir, ts)
      assert(logins("owners_clean", "owner_login") == (1 to n).map(k => s"o${99 + k}").toSet,
        s"run $n")
      assert(logins("users_clean", "user_login") == (1 to n).map(k => s"u${199 + k}").toSet,
        s"run $n")
      for ((table, before) <- previous)
        assert(rows(s"$outDir/${table}_backup") == before, s"run $n: $table backup")
      previous = Seq("owners_clean", "users_clean")
        .map(t => t -> rows(s"$outDir/$t")).toMap
    }
  }
}
