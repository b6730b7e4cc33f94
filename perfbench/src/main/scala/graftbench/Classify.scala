package graftbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

import graft.{Session, SparkEntry}

/** Decides, once, which workload each `SparkEntry.queries` entry belongs to.
  *
  * Every query runs against a state with all session artifacts cleared.
  * A query "reads a session artifact" when it grows one of `SparkEntry`'s
  * memo fields (found by reflection, so a newly added memo is seen without
  * editing this file). The file leaves of every plan it executes, its
  * eager construction-time actions included, tell which tables it scans.
  * Classes:
  *  - `export`: grows an export-dump memo; these write outside the
  *    working tree and are left out;
  *  - `artifact`: reads a session artifact, or scans `documents` or
  *    `embeddings`;
  *  - `corpus`: everything else.
  *
  * Queries named in the exclusion file (`queries/excluded.txt`) are not
  * run: each would write an export dump outside the working tree.
  *
  * Usage: `Classify <corpus dir> <excluded.txt> <out.jsonl>`; one JSON
  * object per line.
  */
object Classify {
  private val ExportMemos = Set("ndjsonFeedMemo", "partFilesMemo",
    "orcExportMemo", "evoParquetMemo")

  /** Size of every memo-like field of the `SparkEntry` object. */
  def memoSizes(): Map[String, Int] = {
    val obj = SparkEntry
    obj.getClass.getDeclaredFields.toSeq.flatMap { f =>
      f.setAccessible(true)
      sizeOf(f.get(obj)).map(f.getName -> _)
    }.toMap
  }

  private def sizeOf(v: Any): Option[Int] = v match {
    case m: java.util.Map[_, _] => Some(m.size)
    case null => None
    case o =>
      o.getClass.getMethods.find(m => m.getName == "size" &&
          m.getParameterCount == 0 && m.getReturnType == classOf[Int])
        .map(_.invoke(o).asInstanceOf[Int])
  }

  private def leaves(plan: LogicalPlan): Seq[String] = plan.collect {
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation => r.location.rootPaths.map(_.toString)
      case _ => Seq.empty
    }
  }.flatten

  def main(args: Array[String]): Unit = {
    val Array(dir, excludedFile, out) = args
    val excluded = QueryLists.read(excludedFile).toSet
    val spark: SparkSession = Session.local(
      Runtime.getRuntime.availableProcessors())
    val executed = mutable.ArrayBuffer.empty[String]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        executed.synchronized(executed ++= leaves(qe.optimizedPlan))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val w = new java.io.PrintWriter(out, "UTF-8")
    for (name <- SparkEntry.queries.keys.toSeq.sorted
         if !excluded(name)) {
      SparkEntry.clearSessionSweeps()
      SparkEntry.clearSessionArtifacts()
      spark.catalog.clearCache()
      val before = memoSizes()
      val t0 = System.nanoTime()
      executed.synchronized(executed.clear())
      val err =
        try { Fingerprint.of(SparkEntry.queries(name)(spark, dir)); "" }
        catch { case e: Throwable => e.toString }
      PerfbenchBus.drain(spark.sparkContext)
      val files = executed.synchronized(executed.toSeq)
      val secs = (System.nanoTime() - t0) / 1e9
      val after = memoSizes()
      val grown = after.collect {
        case (k, n) if n > before.getOrElse(k, 0) => k
      }.toSeq.sorted
      val tables = files.map(p => p.substring(p.lastIndexOf('/') + 1)
        .stripSuffix(".parquet")).distinct.sorted
      val cls =
        if (grown.exists(ExportMemos)) "export"
        else if (grown.nonEmpty || tables.exists(Set("documents",
            "embeddings"))) "artifact"
        else "corpus"
      def js(xs: Seq[String]) = xs.map(x => "\"" + x + "\"")
        .mkString("[", ",", "]")
      w.println(s"""{"query":"$name","class":"$cls","memos":${js(grown)},""" +
        s""""tables":${js(tables)},"secs":$secs,"error":${js(Seq(err).filter(_.nonEmpty).map(_.replace("\"", "'")))}}""")
      w.flush()
    }
    w.close()
    spark.stop()
  }
}
