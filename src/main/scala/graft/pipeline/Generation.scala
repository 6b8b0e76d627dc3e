package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one-generation directory swap behind every file sink: the
  * reference's backup rotation (extract.py:23-34, transform.py:41-55)
  * made crash-safe. A table `<dir>` keeps its previous generation in
  * `<dir>_backup`, and a new generation is written to `<dir>_staging`
  * before anything moves.
  *
  * [[commit]] stages every output first. Only then, in caller order, it
  * drops each old backup, renames current → backup and staging → current.
  * So a failed write leaves every table as it was, and a death between
  * the two renames leaves `<dir>` missing with the last good generation in
  * `<dir>_backup`, which is where [[read]] looks. The renames are Hadoop
  * FileSystem renames: atomic on HDFS-like stores. */
object Generation {

  /** The current generation of the parquet table at `dir`, else its backup
    * (a swap stopped between its two renames), else None. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(dir, dir + "_backup").find(d => fs.exists(new Path(d)))
      .map(spark.read.parquet(_))
  }

  /** Write each `(dir, write)` output through `write(<dir>_staging)`, then
    * swap them in, in list order. A table with no current generation keeps
    * its backup: that is the generation a recovery pass was based on. */
  def commit(spark: SparkSession, outs: Seq[(String, String => Unit)]): Unit = {
    outs.foreach { case (dir, write) => write(dir + "_staging") }
    outs.foreach { case (dir, _) =>
      val current = new Path(dir)
      val backup = new Path(dir + "_backup")
      val fs = current.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(current)) {
        fs.delete(backup, true)
        require(fs.rename(current, backup), s"cannot rotate $dir to its backup")
      }
      require(fs.rename(new Path(dir + "_staging"), current),
        s"cannot rename the staged generation of $dir")
    }
  }
}
