package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes the golden result hashes for every `SparkEntry.queries` entry,
  * together with what the DuckDB oracle check needs to confirm them: each
  * result as parquet under `<dumpDir>/<name>` and `oracle_sql.json`.
  * A result is written only when its parquet copy hashes the same as the
  * frame itself, so the oracle checks exactly the hashed rows.
  *
  * Args: sfDir dumpDir goldensOut */
object MakeGoldens {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, dumpDir, out) = args
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", Paths.get(dumpDir, "_warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(dumpDir))
    val lines = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      val df = q(spark, sfDir)
      val h = Queries.resultHash(df)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$name")
      val back = Queries.resultHash(spark.read.parquet(s"$dumpDir/$name"))
      require(back == h, s"$name: parquet copy hashes $back, frame hashes $h")
      System.err.println(s"[goldens] $name rows=${h.rows} md5=${h.md5}")
      s"$name\t${h.rows}\t${h.md5}"
    }
    val oracle = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(dumpDir, "oracle_sql.json"), oracle)
    Files.write(Paths.get(out), (s"# query\trows\tmd5 (sf: ${Paths.get(sfDir).getFileName})" +: lines)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
