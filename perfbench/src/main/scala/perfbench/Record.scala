package perfbench

import java.nio.file.Paths

/** Prints the `perfbench/gates/expected.tsv` rows for the gates workload:
  * `Record <checkout>`. Record only from code whose gate outputs pass
  * `tools/check.py` against the DuckDB oracle on the same tables; gates
  * without an oracle are marked `no-oracle`. */
object Record {
  def main(argv: Array[String]): Unit = {
    val root = Paths.get(argv(0)).toAbsolutePath
    val a = Main.Args("record", 0L, 0, trace = false, root,
      root.resolve(".bench_build/record.json"), 0L)
    val spark = Main.session(a)
    val dir = a.data.resolve(GatesWorkload.Sf).toString
    val registry = graft.Registry.all.map(q => q.name -> q).toMap
    for (g <- GatesWorkload.Gates) {
      graft.queries.GraphQueries.clearSweepMemos()
      val row = GatesWorkload.materialize(registry(g).fn(spark, dir)).get
      val oracle = if (registry(g).oracle.isDefined) "oracle" else "no-oracle"
      println(s"$g\t${row("n")}\t${row("lo")}:${row("hi")}\t$oracle")
    }
    spark.stop()
  }
}
