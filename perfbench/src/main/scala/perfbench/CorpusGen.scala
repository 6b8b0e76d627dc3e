package perfbench

import scala.util.Random

/** Seeded corpus of GitHub issue texts (title + body) with planted
  * near-duplicate clusters, for the incremental dedup ingest.
  *
  * Every cluster has a root text of `Words` random words; each further
  * member is the root plus one word of its own, so any two members share
  * all of the root's word 3-grams (Jaccard ≥ 0.93) while texts of different
  * clusters share none (words come from a large random vocabulary). Ids
  * grow with arrival, so a cluster's root is always its smallest id and
  * stays its component label.
  */
object CorpusGen {
  val Words = 30

  final case class Doc(id: Long, text: String, root: Long)

  final case class Corpus(base: Vector[Doc], deltas: Vector[Vector[Doc]])

  def corpus(seed: Long, baseSize: Int, deltaSize: Int, nDeltas: Int): Corpus = {
    val rng = new Random(seed * 31L + 17)
    val vocab = Vector.fill(20000)(Seq.fill(4 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar).mkString)
    def words(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.size)))
    val roots = scala.collection.mutable.ArrayBuffer.empty[Doc]
    var next = 1L
    // The mix is fixed by position (per ten documents: four near-duplicates
    // of an earlier root, three new roots, three singletons), so every seed
    // gives batches of the same shape; the seed picks texts and which roots.
    def newDoc(pos: Int): Doc = {
      val id = next; next += 1
      val kind = pos % 10
      if (kind < 4 && roots.nonEmpty) {
        val root = roots(rng.nextInt(roots.size))
        Doc(id, root.text + " " + words(1).head + id, root.id)
      } else {
        val d = Doc(id, s"Issue ${words(6).mkString(" ")}: ${words(Words - 7).mkString(" ")}", id)
        if (kind < 7) roots += d
        d
      }
    }
    val base = Vector.tabulate(baseSize)(newDoc)
    Corpus(base, Vector.fill(nDeltas)(Vector.tabulate(deltaSize)(i => newDoc(i * 2))))
  }
}
