package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.{RelationalOps => R}
import graft.plans.EtlFlow
import graft.sources.{CatalogOps, SinkOps, Sources}

/** Layers every pass visits, named as in BENCHMARK.json. A workload that
  * does not call a layer still passes its boundary with no calls, so the
  * layer reads the cost of an empty call (well under a millisecond). */
object PassLayers {
  val names: Seq[(String, String)] = Seq(
    "entry.construct_s" -> "entry",
    "artifact.sweep_s" -> "artifact",
    "sources.extract_s" -> "sources",
    "etlflow.population_s" -> "etlflow",
    "etlflow.crime_s" -> "etlflow",
    "etlflow.immigration_s" -> "etlflow",
    "catalogops.ddl_s" -> "catalogops",
    "sinkops.load_s" -> "sinkops",
    "catalogops.audit_s" -> "catalogops",
    "sinkops.reload_s" -> "sinkops")

  /** Per-pass counts; a workload that never adds to one reads zero. */
  val counters: Seq[String] = Seq("sources.rows_in") ++
    Seq("population", "crime", "immigration").flatMap(s =>
      Seq(s"etlflow.$s.rows_kept", s"etlflow.$s.rows_dropped")) ++
    Seq("sinkops.rows_written", "sinkops.files_written",
      "sinkops.bytes_written", "sinkops.reload_rows_added",
      "catalogops.violations")

  def visitUnused(run: Run, used: Set[String]): Unit =
    names.filterNot(n => used(n._1)).foreach { case (n, l) =>
      run.timed(n, l)(()) }
}

/** `corpus_scan` and `artifact_kernels`: passes over a committed query
  * list in a seeded order, each query's fingerprint checked against the
  * committed expected value. With `artifacts`, set-up builds the warm
  * artifact tier and each pass starts with the per-round sweeps, each
  * timed as one operation. */
final class QueryWorkload(run: Run, artifacts: Boolean) extends Workload {
  private val cfg = run.cfg
  private val names = QueryLists.read(cfg.queries)
  private val expected: Map[String, Fingerprint] =
    Files.readAllLines(Paths.get(cfg.expected)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> Fingerprint.parse(a(1))).toMap
  /** `--plant wrong_result`: the first listed query's expected value is
    * corrupted, so its (correct) result must be counted as a failure. */
  private val planted =
    if (cfg.plant == "wrong_result") names.headOption else None

  private def short(builder: String) = builder.split(":").last

  def setup(spark: SparkSession): Unit = {
    run.timed("tables.register_s", "tables")(
      Tables.names.foreach(n => Tables(spark, cfg.corpus, n).schema))
    val warm =
      if (artifacts) SparkEntry.warmArtifactBuilders(cfg.corpus) else Nil
    run.timed("artifact.warm_s", "artifact")(warm.foreach { case (nm, b) =>
      run.op(nm, "artifact.warm")(
        run.timed(s"artifact.warm.${short(nm)}_s", "artifact")(b(spark)))
    })
  }

  def pass(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    SparkEntry.clearSessionSweeps()
    val sweeps =
      if (artifacts) SparkEntry.roundSweepBuilders(cfg.corpus) else Nil
    run.timed("artifact.sweep_s", "artifact")(sweeps.foreach {
      case (nm, b) =>
        run.op(nm, "artifact.sweep")(
          run.timed(s"artifact.sweep.${short(nm)}_s", "artifact")(b(spark)))
    })
    run.random.shuffle(names).foreach(query(spark, _))
    PassLayers.visitUnused(run, Set("entry.construct_s", "artifact.sweep_s"))
  }

  private def query(spark: SparkSession, name: String): Unit =
    run.op(name, "query") {
      val df = run.timed("entry.construct_s", "entry")(
        SparkEntry.queries(name)(spark, cfg.corpus))
      val got = run.planAndRun(Fingerprint.frame(df))(Fingerprint.read)
      val want = expected.get(name).map(f =>
        if (planted.contains(name)) f.copy(xor = f.xor ^ 1L) else f)
      run.check(want.contains(got), s"fingerprint ${got.render} != " +
        s"expected ${want.map(_.render).getOrElse("(none committed)")}")
    }

  def describe: Map[String, Any] = Map(
    "corpus" -> cfg.corpus, "queries" -> names, "n_queries" -> names.size)
}

/** `etl`: the paper's pipeline over seeded inputs, one pass per batch:
  * extract with `Sources`, transform with `EtlFlow`, star-schema DDL and
  * load through `CatalogOps` and `SinkOps.loadNoConflict`, UNIQUE and FK
  * audits, the report's star-schema reads, and an idempotent reload of the
  * same batch. Every count and digest is checked against the generator's
  * `expected.json`. */
final class EtlWorkload(run: Run) extends Workload {
  private val cfg = run.cfg
  private val in = cfg.etlIn
  private val expected: JsonNode =
    new ObjectMapper().readTree(new java.io.File(s"$in/expected.json"))
  private val db = "perfbench_etl"
  private val dbDir = Paths.get(cfg.work, "etl_db").toAbsolutePath.toString
  private val keys = Seq("country_iso3_id", "year_id")
  private val years = expected.get("population_years").elements().asScala
    .map(_.asInt).toSeq

  private def exp(path: String*): JsonNode =
    path.foldLeft(expected)((n, k) => n.get(k))

  def setup(spark: SparkSession): Unit = {
    val p = new Path(dbDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    run.timed("catalogops.database_s", "catalogops")(
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$dbDir'"))
  }

  /** Runs a frame to a local checkpoint and returns it with its row count. */
  private def land(df: DataFrame): (DataFrame, Long) = {
    val ck = run.planAndRun(df)(_.localCheckpoint(true))
    (ck, ck.count())
  }

  /** One source read, checked against the generator's row count. */
  private def extract(name: String, read: => DataFrame,
                      want: Long): Option[(DataFrame, Long)] =
    run.op(s"sources.$name", "etl") {
      val (df, n) = run.timed("sources.extract_s", "sources")(land(read))
      run.count("sources.rows_in", n)
      run.check(n == want, s"$name read $n rows, expected $want")
      (df, n)
    }

  private def stage(name: String, rowsIn: Long)(
      build: => DataFrame): Option[DataFrame] =
    run.op(s"etlflow.$name", "etl") {
      val (df, kept) = run.timed(s"etlflow.${name}_s", "etlflow")(
        land(build))
      val want = exp("ledger", name, "rows_kept").asLong
      run.count(s"etlflow.$name.rows_kept", kept)
      run.count(s"etlflow.$name.rows_dropped", rowsIn - kept)
      run.check(kept == want, s"$name kept $kept rows, expected $want")
      run.check(rowsIn == exp("ledger", name, "rows_in").asLong,
        s"$name saw $rowsIn input rows")
      df
    }

  private def location(spark: SparkSession, table: String): String =
    spark.sessionState.catalog
      .defaultTablePath(TableIdentifier(table, Some(db))).toString

  /** Row count and SHA-256 of the rows rendered as in gen_etl.py. */
  private def digest(df: DataFrame): (Long, String) = {
    val lines = df.collect().map(renderRow).sorted
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    (lines.length.toLong, sha)
  }

  private def renderRow(r: Row): String = r.toSeq.map {
    case d: java.math.BigDecimal => d.toPlainString
    case null => "null"
    case x => x.toString
  }.mkString("|")

  private def checkDigest(df: DataFrame, want: JsonNode,
                          what: String): Unit = {
    val (n, sha) = run.timed("report.read_s", "report")(digest(df))
    run.check(n == want.get("rows").asLong && sha == want.get("sha256").asText,
      s"$what digest ($n rows, $sha) differs from expected " +
        s"(${want.get("rows").asLong} rows)")
  }

  private val starTables = Seq("country", "year", "population", "crime",
    "immigration")

  def pass(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val src = exp("sources")
    // 1. extract; population is one read per fetch year, landed together
    val popAll = extract("population", R.unionAll(years.map(y =>
      Sources.jsonEnvelopeRows(spark, s"$in/population/$y",
        EtlFlow.populationRowSchema).withColumn("__year", lit(y)))),
      src.get("population_rows").asLong)
    val popRows = popAll.map(_._2).getOrElse(-1L)
    val meta = extract("countries_meta", Sources.jsonEnvelopeRows(spark,
      s"$in/countries_meta.json", EtlFlow.countryMetaSchema),
      src.get("meta_rows").asLong)
    val crimeRaw = extract("un_crime", Sources.csvWithHeaderOffset(spark,
      s"$in/un_crime.csv", 2), src.get("crime_rows").asLong)
    val immRaw = extract("eurostat_immigration", Sources.csvAllString(spark,
      s"$in/eurostat_immigration.csv"), src.get("immigration_rows").asLong)
    val nameLookup = extract("country_lookup", Sources.csvAllString(spark,
      s"$in/country_lookup.csv"), src.get("lookup_rows").asLong)
    val iso = extract("iso2_to_iso3", Sources.csvAllString(spark,
      s"$in/iso2_to_iso3.csv"), src.get("iso_rows").asLong)
    // 2. transform
    var country: Option[DataFrame] = None
    val population = stage("population", popRows) {
      val (c, p) = EtlFlow.countryAndPopulation(
        years.map(y => y -> popAll.get._1.filter(col("__year") === y)
          .drop("__year")),
        EtlFlow.aggregateCodes(meta.get._1), nameLookup.get._1)
      val (cdf, cn) = land(c)
      run.check(cn == expected.get("country_rows").asLong,
        s"country dim has $cn rows")
      country = Some(cdf)
      p
    }
    val crime = stage("crime", crimeRaw.map(_._2).getOrElse(-1L))(
      EtlFlow.crime(crimeRaw.get._1))
    val immigration = stage("immigration", immRaw.map(_._2).getOrElse(-1L))(
      EtlFlow.immigration(immRaw.get._1, iso.get._1, population.get))
    // 3. star-schema DDL and load
    run.op("catalogops.ddl", "etl")(run.timed("catalogops.ddl_s",
      "catalogops") {
      CatalogOps.createStarSchema(spark, db)
      CatalogOps.seedYearDim(spark, db)
    })
    val batches: Seq[(String, () => DataFrame, Seq[String], String)] = Seq(
      ("country", () => country.get, Seq("country_iso3_id"), "country_name"),
      ("population", () => population.get, keys, "population"),
      ("crime", () => crime.get.select(col("convicts_per_100000")
        .cast("decimal(10,2)").as("convicts_per_100000"),
        col("country_iso3_id"), col("year_id")), keys,
        "convicts_per_100000"),
      ("immigration", () => immigration.get.select(
        col("immigration_per_100000").cast("decimal(10,2)")
          .as("immigration_per_100000"), col("country_iso3_id"),
        col("year_id")), keys, "immigration_per_100000"))
    def load(layer: String, t: String, df: () => DataFrame,
             k: Seq[String], order: String): Unit =
      run.timed(layer, "sinkops") {
        SinkOps.loadNoConflict(spark, df(), location(spark, t), k,
          Seq(col(order)))
        spark.catalog.refreshTable(s"$db.$t")
      }
    batches.foreach { case (t, df, k, order) =>
      run.op(s"sinkops.load.$t", "etl") {
        val loc = new Path(location(spark, t))
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // CREATE TABLE leaves an empty directory; the first load must see
        // no table there, as the reference's INSERT into a fresh table.
        if (fs.exists(loc) && fs.listStatus(loc).forall(
            !_.getPath.getName.endsWith(".parquet"))) fs.delete(loc, true)
        load("sinkops.load_s", t, df, k, order)
        if (t == "population" && cfg.plant == "dup_key")
          spark.table(s"$db.population").limit(1).write.mode("append")
            .insertInto(s"$db.population")
      }
    }
    val loaded = batches.map(_._1).map { t =>
      val loc = new Path(location(spark, t))
      val files = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(loc).filter(_.getPath.getName.endsWith(".parquet"))
      run.count("sinkops.files_written", files.length)
      run.count("sinkops.bytes_written", files.map(_.getLen).sum.toDouble)
      t -> spark.table(s"$db.$t").count()
    }.toMap
    run.count("sinkops.rows_written", loaded.values.sum.toDouble)
    // 4. UNIQUE and FK audits
    Seq("population", "crime", "immigration").foreach { fact =>
      run.op(s"catalogops.audit.$fact", "etl") {
        val v = run.timed("catalogops.audit_s", "catalogops")(
          CatalogOps.uniqueKeyViolations(spark, db, fact).count() +
            CatalogOps.fkViolations(spark, db, fact).count())
        run.count("catalogops.violations", v.toDouble)
        run.check(v == 0, s"$fact has $v UNIQUE/FK violations")
      }
    }
    // 5. the report's star-schema reads, and every table's digest
    run.op("report.star_tables", "etl")(starTables.foreach(t =>
      checkDigest(spark.table(s"$db.$t"), exp("tables", t), t)))
    run.op("report.crime_vs_immigration", "etl")(checkDigest(spark.sql(
      s"""SELECT c.country_name, f.country_iso3_id, f.year_id,
         |  f.convicts_per_100000, i.immigration_per_100000
         |FROM $db.crime f
         |JOIN $db.immigration i USING (country_iso3_id, year_id)
         |JOIN $db.country c USING (country_iso3_id)""".stripMargin),
      exp("reports", "crime_vs_immigration"), "crime vs immigration"))
    run.op("report.yearly_averages", "etl")(checkDigest(spark.sql(
      s"""SELECT year_id, avg(f.convicts_per_100000),
         |  avg(i.immigration_per_100000), count(*)
         |FROM $db.crime f
         |JOIN $db.immigration i USING (country_iso3_id, year_id)
         |GROUP BY year_id""".stripMargin),
      exp("reports", "yearly_averages"), "yearly averages"))
    // 6. idempotent reload of the same batch
    batches.foreach { case (t, df, k, order) =>
      run.op(s"sinkops.reload.$t", "etl") {
        load("sinkops.reload_s", t, df, k, order)
        val added = spark.table(s"$db.$t").count() - loaded(t)
        run.count("sinkops.reload_rows_added", added.toDouble)
        run.check(added == 0, s"reload added $added rows to $t")
        checkDigest(spark.table(s"$db.$t"), exp("tables", t), s"$t reload")
      }
    }
    PassLayers.visitUnused(run, PassLayers.names.map(_._1).toSet --
      Seq("entry.construct_s", "artifact.sweep_s"))
  }

  def describe: Map[String, Any] = Map.empty
}
