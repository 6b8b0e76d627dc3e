package perfbench

import java.security.MessageDigest

/** RFC 4122 UUIDv5, written independently of `graft.expr` so the expected
  * surrogate keys do not come from the code under test. */
object Uuid5 {
  private val Dns = hex("6ba7b8109dad11d180b400c04fd430c8")

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def bytes(ns: Array[Byte], name: String): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-1")
    md.update(ns)
    md.update(name.getBytes("UTF-8"))
    val d = md.digest().take(16)
    d(6) = ((d(6) & 0x0f) | 0x50).toByte
    d(8) = ((d(8) & 0x3f) | 0x80).toByte
    d
  }

  private def render(d: Array[Byte]): String = {
    val h = d.map(b => f"${b & 0xff}%02x").mkString
    Seq(h.substring(0, 8), h.substring(8, 12), h.substring(12, 16),
      h.substring(16, 20), h.substring(20)).mkString("-")
  }

  private val namespaces = scala.collection.concurrent.TrieMap.empty[String, Array[Byte]]

  /** Key of `name` under the `github.<entity>` namespace. */
  def key(entity: String, name: String): String =
    render(bytes(namespaces.getOrElseUpdate(entity, bytes(Dns, s"github.$entity")), name))

  /** The published reference vectors; the run fails loudly on a mismatch. */
  def selfTest(): Unit = {
    val vectors = Seq(
      ("owner", "microsoft", "0dd58109-d16c-5fac-9308-c895180d7869"),
      ("repo", "microsoft|.github", "ed35ef31-1edc-5cd0-a250-d62d346f2a86"),
      ("branch", ".github|DragosDanielBoia-patch-1", "007f7c0f-6276-5eae-a8db-e292f7ff3916"),
      ("issue", ".github|449", "da33bf29-9415-5d28-8475-d5dd2093296e"),
      ("user", "yasinduksiye1212-stack", "780d978c-ab7e-58dc-8428-1a8c0a39f43c"))
    for ((e, n, want) <- vectors) {
      val got = key(e, n)
      require(got == want, s"uuid5 vector github.$e/$n: got $got, want $want")
    }
  }
}
