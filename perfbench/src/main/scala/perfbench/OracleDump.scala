package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Cross-check of a batch workload's recorded digests: materializes the
  * workload's stand-in tables and dumps each query's full result, with its
  * `SparkEntry.oracleSql`, in the layout `tools/check_oracle.py` compares
  * against DuckDB. Also prints each query's digest, to compare with
  * `perfbench/expected/<workload>.tsv`.
  *
  * {{{
  * java -cp <classpath> perfbench.OracleDump <workload> <outDir>
  * python3 tools/check_oracle.py <outDir>/tables <outDir>/dump
  * }}}
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val Array(workload, out) = args
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = BatchWorkload.definition(workload, nproc)
    val tables = Paths.get(out, "tables")
    val dump = Paths.get(out, "dump")
    Datagen.ensure(spark, Datagen.Spec(BatchWorkload.DataSeed, d.sf), tables, d.tables)
    Files.createDirectories(dump)
    d.queries.foreach { q =>
      val df = SparkEntry.queries(q)(spark, tables.toString)
      df.coalesce(1).write.mode("overwrite").parquet(dump.resolve(q).toString)
      println(s"$q\t${Digest.of(df)}")
    }
    Files.writeString(dump.resolve("oracle_sql.json"), Json.write(
      d.queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    spark.stop()
  }
}
