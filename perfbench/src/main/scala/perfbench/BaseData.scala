package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The fixed TPC-H-shaped base tables, written once per build as plain
  * parquet (the benchmark's equivalent of a checked-in dataset). */
object BaseData {
  def path(dir: File, table: String): String = new File(dir, s"$table.parquet").getPath

  /** Writes every base table, and the expected answers derived from
    * them, under `dir`, via a sibling temp dir renamed into place, so a
    * half-written dataset is never used. */
  def write(spark: SparkSession, dir: File): Unit = {
    val tmp = new File(dir.getPath + ".tmp")
    Main.deleteRecursively(tmp)
    Inputs.baseTableSql(Inputs.BaseSeed).foreach { case (name, sql) =>
      spark.sql(sql).write.parquet(path(tmp, name))
      spark.read.parquet(path(tmp, name)).createOrReplaceTempView(name)
    }
    PointGet.expectations(spark).foreach { case (name, df) => df.write.parquet(path(tmp, name)) }
    require(tmp.renameTo(dir), s"could not move $tmp to $dir")
  }
}
