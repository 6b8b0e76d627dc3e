package perfbench

import scala.util.Random
import scala.util.hashing.MurmurHash3

/** Seeded generator of GitHub REST pages in the raw shapes the pipeline
  * reads (repos, branches, issues including pull requests), with ground
  * truth for what the clean layer and the constraint audits must produce.
  *
  * Every generation has the same shape (repos, branches and issues per
  * repo); the seed picks names, users, shas, dates and which fetches fault.
  * Each generation plants: multiline titles, keep-last re-deliveries of a
  * repo, a branch and an issue, a repo without an owner (its branches
  * become FK orphans and its issues are dropped), private, archived and
  * forked repos (not fanned out), one non-hex commit sha, one invalid
  * visibility, one negative star count, one issue closed before it was
  * created, and owners and users that are new in this generation.
  */
object GitHubGen {

  final case class Truth(
      repos: Long, branches: Long, issues: Long,
      owners: Set[String], users: Set[String],
      violations: Map[String, Long],
      pages: Long, retries: Long)

  final case class Generation(
      org: String, pages: Map[String, Vector[String]], truth: Truth, faultSalt: Long)

  val PerPage = 10
  val MaxPages = 5

  /** Whether the first attempt at (path, page) answers 429/503. */
  def faulted(salt: Long, path: String, page: Int): Boolean =
    math.floorMod(MurmurHash3.stringHash(s"$salt|$path|$page"), 8) == 0

  private def ts(day: Int, sec: Int): String =
    java.time.Instant.ofEpochSecond(1704067200L + day * 86400L + sec).toString

  private def pageUp(records: Seq[String]): Vector[String] =
    records.grouped(PerPage).map(_.mkString("[", ",", "]")).toVector

  def generation(seed: Long, g: Int): Generation = {
    val rng = new Random(seed * 1000003L + g)
    val org = s"org-$seed"
    val newOwners = Vector(s"own-$seed-g$g-a", s"own-$seed-g$g-b")
    val ownerId = (newOwners.zipWithIndex.map { case (l, k) => l -> (5000L + g * 10 + k) } :+
      (org -> 1000L)).toMap
    def hex(n: Int) = Seq.fill(n)("0123456789abcdef"(rng.nextInt(16))).mkString

    // ---- repos
    val nRepos = 21
    final case class R(j: Int, name: String, owner: Option[String], priv: Boolean,
        archived: Boolean, fork: Boolean, visibility: String, stars: Long)
    val repos = (0 until nRepos).map { j =>
      val owner = if (j == 2) None else if (j % 4 == 1) Some(newOwners(j / 4 % 2)) else Some(org)
      val priv = j % 7 == 3
      R(j, s"repo-$g-$j", owner, priv, archived = j % 7 == 5, fork = j % 9 == 4,
        visibility = if (priv) "private" else if (j == 6) "secret" else "public",
        stars = if (j == 8) -1L else rng.nextInt(500).toLong)
    }
    def repoJson(r: R, stars: Long): String = {
      val owner = r.owner.fold("null")(l => s"""{"id":${ownerId(l)},"login":${Json.str(l)}}""")
      val topics = if (r.j % 3 == 0) """["etl","spark"]""" else "[]"
      s"""{"id":${g * 100000L + r.j + 1},"name":${Json.str(r.name)},""" +
        s""""full_name":${Json.str(r.owner.getOrElse("ghost") + "/" + r.name)},""" +
        s""""description":${if (r.j % 5 == 0) "null" else Json.str(s"Repo ${r.j} of generation $g")},""" +
        s""""topics":$topics,"language":${Json.str(Seq("Scala", "Python", "Go")(r.j % 3))},""" +
        s""""owner":$owner,"visibility":${Json.str(r.visibility)},"private":${r.priv},""" +
        s""""disabled":false,"fork":${r.fork},"archived":${r.archived},""" +
        s""""default_branch":"main","stargazers_count":$stars,"watchers_count":$stars,""" +
        s""""forks_count":${r.j},"forks":${r.j},"open_issues_count":${r.j % 4},""" +
        s""""created_at":"${ts(r.j, 0)}","updated_at":"${ts(r.j + 30, 0)}",""" +
        s""""pushed_at":${if (r.j % 6 == 0) "null" else "\"" + ts(r.j + 31, 5) + "\""}}"""
    }
    // repo 0 is delivered twice; the later record (more stars) must win
    val repoRecords = repos.map(r => repoJson(r, r.stars)) :+ repoJson(repos(0), repos(0).stars + 7)
    val eligible = repos.filter(r => !r.priv && !r.archived && !r.fork)
    val keptRepos = repos.filter(_.owner.isDefined)

    // ---- branches and issues per eligible repo
    val corePool = (0 until 5).map(k => s"core-$seed-$k")
    val genPool = (0 until 12).map(k => s"user-$seed-g$g-$k")
    def userJson(l: String) = s"""{"id":${math.abs(MurmurHash3.stringHash(l)).toLong},"login":${Json.str(l)}}"""
    var branchRows = 0L
    var orphanBranches = 0L
    var issueRows = 0L
    val users = Set.newBuilder[String]
    val perRepo = Map.newBuilder[String, Vector[String]]
    val badShaRepo = eligible.find(_.owner.isDefined).get.j
    val badCloseRepo = badShaRepo
    for ((r, idx) <- eligible.zipWithIndex) {
      val nb = 1 + idx % 4
      val names = Seq("main", "dev", s"feature-$idx", s"fix-${hex(4)}").take(nb)
      def branchJson(name: String, sha: String) =
        s"""{"name":${Json.str(name)},"protected":${name == "main"},""" +
          s""""commit":{"sha":${Json.str(sha)},"url":${Json.str(s"https://example.invalid/${r.name}/$sha")}}}"""
      val branches = names.zipWithIndex.map { case (n, k) =>
        branchJson(n, if (r.j == badShaRepo && k == nb - 1) "not-a-sha" else hex(40))
      } ++ (if (idx % 3 == 1) Seq(branchJson("main", hex(40))) else Nil)
      perRepo += s"/repos/$org/${r.name}/branches" -> pageUp(branches)
      branchRows += nb
      if (r.owner.isEmpty) orphanBranches += nb

      val ni = 3 + idx * 5 % 8
      val kept = r.owner.isDefined
      def issueJson(n: Int, title: String, author: String, assignee: Option[String],
          pr: Option[Option[String]], closed: Option[String], created: String) =
        s"""{"id":${g * 10000000L + r.j * 1000L + n},"number":$n,"title":${Json.str(title)},""" +
          s""""user":${userJson(author)},"state":${Json.str(if (closed.isDefined) "closed" else "open")},""" +
          s""""locked":${n % 5 == 0},"comments":${n * 2},""" +
          pr.fold("")(m => s""""pull_request":{"merged_at":${m.fold("null")(Json.str)}},""") +
          s""""created_at":"$created","updated_at":"$created",""" +
          s""""closed_at":${closed.fold("null")(Json.str)},""" +
          s""""labels":${if (n % 3 == 0) """[{"name":"bug"},{"name":"p1"}]""" else "[]"},""" +
          s""""assignee":${assignee.fold("null")(userJson)}}"""
      val issues = (1 to ni).map { n =>
        val author = if (rng.nextInt(3) == 0) corePool(rng.nextInt(5)) else genPool(rng.nextInt(12))
        val assignee = if (rng.nextInt(3) == 0) Some(genPool(rng.nextInt(12))) else None
        val pr = if (rng.nextInt(3) == 0) Some(if (rng.nextBoolean()) Some(ts(40 + n, 60)) else None) else None
        val created = ts(10 + n, n * 7)
        val closed =
          if (r.j == badCloseRepo && n == 2) Some(ts(9, 0))
          else if (rng.nextInt(2) == 0) Some(ts(20 + n, 0)) else None
        val title = if (n % 4 == 0) s"Issue $n in ${r.name}\nwith a second line" else s"Issue $n in ${r.name}"
        if (kept) { users += author; assignee.foreach(users += _) }
        (n, title, author, assignee, pr, closed, created)
      }
      val records = issues.map { case (n, t, a, as, pr, c, cr) => issueJson(n, t, a, as, pr, c, cr) } ++
        (if (idx % 4 == 2) issues.take(1).map { case (n, t, a, as, pr, c, cr) =>
          issueJson(n, t + " (edited)", a, as, pr, c, cr) } else Nil)
      perRepo += s"/repos/$org/${r.name}/issues" -> pageUp(records)
      if (kept) issueRows += ni
    }

    val pages = perRepo.result() + (s"/users/$org/repos" -> pageUp(repoRecords))
    // every path is read up to its first empty page (or the page cap)
    val fetched = pages.toSeq.flatMap { case (p, ps) => (1 to math.min(ps.size + 1, MaxPages)).map(p -> _) }
    val salt = seed * 7919L + g
    Generation(org, pages, Truth(
      repos = keptRepos.size.toLong,
      branches = branchRows,
      issues = issueRows,
      owners = keptRepos.flatMap(_.owner).toSet,
      users = users.result(),
      violations = Map(
        "repos_pk" -> 0L, "owners_pk" -> 0L, "branches_pk" -> 0L,
        "issues_pk" -> 0L, "users_pk" -> 0L,
        "repos_fk_owner" -> 0L, "branches_fk_repo" -> orphanBranches,
        "issues_fk_repo" -> 0L, "issues_fk_author" -> 0L,
        "branches_sha_hex" -> 1L, "repos_visibility" -> 1L,
        "repos_stars_nonneg" -> 1L, "issues_closed_after_created" -> 1L),
      pages = pages.values.map(_.size.toLong).sum,
      retries = fetched.count { case (p, n) => faulted(salt, p, n) }.toLong), salt)
  }
}
