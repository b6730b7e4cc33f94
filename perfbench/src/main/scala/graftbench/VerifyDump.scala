package graftbench

import java.nio.file.{Files, Paths}

import graft.{Session, SparkEntry}

/** Produces the committed expected fingerprints (`queries/fingerprints.tsv`)
  * together with the evidence that they are right: each listed query's
  * result is dumped in `graft.Verify`'s layout (`<out>/<query>` parquet and
  * `<out>/oracle_sql.json`), so the repo's DuckDB oracle compare
  * (`tools/compare.py <corpus> <out>`) can check the very results whose
  * fingerprints are written. A fingerprint is taken from the live result
  * and again from the dump read back; a query whose two readings differ is
  * reported and left out of the file.
  *
  * Usage: `VerifyDump <corpus dir> <out dir> <fingerprints.tsv> <list>...`
  */
object VerifyDump {
  def main(args: Array[String]): Unit = {
    val Array(dir, out, tsv) = args.take(3)
    val names = args.drop(3).toSeq.flatMap(QueryLists.read).distinct.sorted
    val spark = Session.local(Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("ERROR")
    val lines = names.flatMap { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val live = Fingerprint.of(df)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      val dumped = Fingerprint.of(spark.read.parquet(s"$out/$n"))
      spark.catalog.clearCache()
      if (live != dumped) {
        System.err.println(s"[verifydump] $n: live ${live.render} != " +
          s"dumped ${dumped.render}")
        None
      } else Some(s"$n\t${live.render}")
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) =>
      names.contains(k) }
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), oracle)
    Files.writeString(Paths.get(tsv),
      "# query\trows:bit_xor(xxhash64) on corpus/sf0.01, see VerifyDump\n" +
        lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
