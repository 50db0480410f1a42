package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.json4s.JsonAST._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.SparkEntry
import graft.engine.{SessionCache, Tables}
import graft.engine.cluster.{ClusterQueries, Indices, KMeansSweep}
import graft.engine.multimodal.Multimodal
import graft.engine.rel.{RelQueries, Udafs}
import graft.engine.sim.Similarity
import graft.engine.sink.Sinks
import graft.engine.sketch.Sketches
import graft.engine.stream.StreamQueries
import graft.engine.text.TextOps

/** One benchmark process: session set-up, then timed passes over a
  * workload's declared queries.
  *
  * Usage: Harness <dataDir> <outDir> <q1,q2,...> <trace 0|1> <seconds>
  *
  * A pass is a closed loop with one client: queries run in sorted name
  * order, each starting after the previous result is fully written. Each
  * pass runs in a fresh memo epoch, so every shared memo it uses is built
  * once inside it.
  *
  * Prints `READY` once the session and the batch engine are warm; writes
  * `<outDir>/pass.json` (per-query timings), each query's result as
  * parquet under `<outDir>/rows/` for the output check,
  * `<outDir>/oracle_sql.json`, and with trace 1 `<outDir>/trace.json`
  * (spans and per-layer counters). All timing is taken outside the
  * engine: around its entry points and through Spark's listener APIs.
  */
object Harness {
  /** Family of each query: the SparkEntry.queryPacks map that declares it. */
  val families: Seq[(String, Seq[Map[String, (SparkSession, String) => DataFrame]])] = Seq(
    "cluster" -> Seq(ClusterQueries.queries, KMeansSweep.queries),
    "text" -> Seq(TextOps.queries),
    "sim" -> Seq(Similarity.queries),
    "rel" -> Seq(RelQueries.queries, Udafs.queries),
    "stream" -> Seq(StreamQueries.queries),
    "io" -> Seq(Sinks.queries, Multimodal.queries, Sketches.queries))

  def familyOf(name: String): String =
    families.collectFirst { case (f, packs) if packs.exists(_.contains(name)) => f }
      .getOrElse(sys.error(s"query $name is in no benchmark family"))

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, queryCsv, traceFlag, seconds) = args
    val spark = setUp()
    println("READY")
    System.out.flush()
    val names = queryCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq.sorted
    names.foreach(familyOf)
    new Pass(spark, dataDir, outDir, traceFlag == "1").run(names, seconds.toInt)
    spark.stop()
  }

  /** Session plus batch-engine first touch, as graft.Bench does it: the
    * 100-row synthetic query exercises codegen, shuffle, broadcast join,
    * window and higher-order functions without touching workload data. */
  def setUp(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.ensureNanosAsLong(spark)
    val t = spark.range(100).select(col("id"), (col("id") % 7).as("k"),
      transform(sequence(lit(1), lit(4)), i => i * col("id")).as("arr"))
    t.join(broadcast(t.groupBy("k").agg(avg("id").as("m"))), "k")
      .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy(desc("id"))))
      .filter(col("rn") <= 2)
      .select(aggregate(col("arr"), lit(0L), (a, x) => a + x).as("s"))
      .agg(sum("s")).collect()
    spark
  }

  def write(path: String, v: JValue): Unit =
    Files.write(Paths.get(path), compact(render(v)).getBytes(UTF_8))
}

/** Closed-loop passes over the workload's queries. A first, cold pass
  * warms the JVM and Spark's code caches; then warm passes run for
  * `seconds`, at least [[Pass.MinWarm]] of them, as in a long-running
  * session. Each pass starts with empty memos. With tracing, listeners
  * are attached for one extra, final pass only. */
final class Pass(spark: SparkSession, dir: String, out: String, trace: Boolean) {
  import Harness.write

  private final case class Rec(name: String, family: String, startMs: Long,
                               buildS: Double, execS: Double, endMs: Long,
                               error: Option[String])

  private val queries = SparkEntry.queries
  private val columns = mutable.LinkedHashMap.empty[String, Seq[String]]
  private var storedBytes = 0L
  private val liveHeapMb = mutable.ArrayBuffer.empty[Double]

  private def runQuery(name: String): Rec = {
    spark.sparkContext.setLocalProperty(Tracer.QueryProp, name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    // the result is written whole: every column of every row is
    // materialized (a count() lets the optimizer prune columns and the
    // final sort), and large results are never collected into this JVM
    val err = try {
      val df = queries(name)(spark, dir)
      t1 = System.nanoTime()
      // jobs of the result write are tagged, so the trace can tell the
      // engine's own file output from this harness's
      spark.sparkContext.setLocalProperty(Tracer.ResultProp, "true")
      try df.write.mode("overwrite").parquet(s"$out/rows/$name")
      finally spark.sparkContext.setLocalProperty(Tracer.ResultProp, null)
      columns(name) = df.schema.fields.toSeq.map(f => s"${f.name}:${f.dataType.simpleString}")
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    spark.sparkContext.setLocalProperty(Tracer.QueryProp, null)
    val rec = Rec(name, Harness.familyOf(name), startMs, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      System.currentTimeMillis(), err)
    System.err.println(f"[perfbench] $name%s build ${rec.buildS}%.3f s exec ${rec.execS}%.3f s" +
      rec.error.fold("")(e => s" failed: $e"))
    rec
  }

  private def onePass(i: Int, names: Seq[String]): Seq[Rec] = {
    System.gc()
    SessionCache.freshEpoch(s"perfbench-pass-$i") {
      val recs = names.map(runQuery)
      storedBytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      // the memory a pass keeps: the heap a full collection leaves while
      // its memos are still cached (peak RSS follows the collector's
      // timing-driven heap growth more than the engine's data)
      System.gc()
      liveHeapMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      recs
    }
  }

  def run(names: Seq[String], seconds: Int): Unit = {
    val passes = mutable.ArrayBuffer(onePass(0, names))
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (passes.size <= Pass.MinWarm || System.nanoTime() < deadline)
      passes += onePass(passes.size, names)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach { t =>
      t.attach()
      passes += onePass(passes.size, names)
      t.detach()
    }

    // untimed from here on: records for the output check of the last
    // pass's results, then (traced) the layer probes
    val oracles = SparkEntry.oracleSql
    write(s"$out/oracle_sql.json",
      JObject(names.flatMap(n => oracles.get(n).map(n -> JString(_))).toList))
    write(s"$out/pass.json", JObject(
      "passes" -> JArray(passes.toList.map(p => JArray(p.toList.map(r => JObject(
        "name" -> JString(r.name), "family" -> JString(r.family),
        "start_ms" -> JLong(r.startMs), "end_ms" -> JLong(r.endMs),
        "build_s" -> JDouble(r.buildS), "exec_s" -> JDouble(r.execS),
        "error" -> r.error.map(JString(_)).getOrElse(JNull)))))),
      "columns" -> JObject(columns.toList.map { case (n, c) => n -> JArray(c.toList.map(JString(_))) }),
      "memo_stored_bytes" -> JLong(storedBytes),
      "live_heap_mb" -> JArray(liveHeapMb.toList.map(JDouble(_))),
      "peak_rss_mb" -> JDouble(Tracer.peakRssMb())))
    tracer.foreach { t =>
      val probes = new Probes(spark, dir)
      val layer = probes.run()
      val querySpans = passes.last.flatMap { r =>
        val split = r.startMs + math.round(r.buildS * 1e3)
        Seq(Span(r.name, "pass", r.startMs, r.endMs),
          Span(s"${r.name}/build", r.name, r.startMs, split),
          Span(s"${r.name}/exec", r.name, split, r.endMs))
      }
      write(s"$out/trace.json", t.report(layer, querySpans ++ probes.spans.toSeq))
    }
  }
}

object Pass {
  val MinWarm = 3
}

/** Direct calls into single layers, made after the traced pass under a
  * fresh memo epoch so each memo is built exactly once here. Tables are
  * loaded through an alias of the data path so their per-session
  * primary-key contract checks run again instead of being served. */
final class Probes(spark: SparkSession, dir: String) {
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  val spans = mutable.ArrayBuffer.empty[Span]

  private def timed[T](name: String)(f: => T): T = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val v = f
    val s = (System.nanoTime() - t0) / 1e9
    spans += Span(name, "probes", startMs, System.currentTimeMillis())
    metrics(name) = s
    v
  }

  def run(): Map[String, Double] = SessionCache.freshEpoch("perfbench-probes") {
    val alias = s"$dir/."
    timed("tables.load_s") {
      Tables.documents(spark, alias); Tables.embeddings(spark, alias)
      Tables.events(spark, alias); Tables.points(spark, alias)
    }
    val pts = Tables.points(spark, dir)
    timed("cluster.wssse_s")(Indices.wssse(pts).collect())
    timed("cluster.bd_silhouette_s")(Indices.bdSilhouette(pts).collect())
    timed("cluster.bd_dunn_s")(Indices.bdDunn(pts).collect())
    timed("cluster.davies_bouldin_s")(Indices.daviesBouldin(pts).collect())
    // the memo builders, in graft.Bench's pre-touch order so each build
    // times only its own increment over the memos it reads
    val memos: Seq[(String, () => DataFrame)] = Seq(
      "tokens" -> (() => TextOps.distinctTokens(spark, dir)),
      "tokenArrays" -> (() => TextOps.docTokenArrays(spark, dir)),
      "trigramIds" -> (() => TextOps.docTrigramIdArrays(spark, dir)),
      "pairs_b2r4" -> (() => TextOps.minhashPairs(spark, dir, rowsPerBand = 4)),
      "pairs_b1r8" -> (() => TextOps.minhashPairs(spark, dir, rowsPerBand = 8)),
      "truth" -> (() => TextOps.minhashTruthCached(spark, dir)),
      "ngram8" -> (() => TextOps.ngramSetCached(spark, dir, 8, Seq("doc_id", "source"))),
      "groups" -> (() => TextOps.resolvedGroups(spark, dir)),
      "annTruth" -> (() => Similarity.sampledTruth(spark, dir)),
      "cellRank" -> (() => Similarity.cellRankedCached(spark, dir)),
      "lshSig" -> (() => Similarity.lshSignaturesCached(spark, dir)))
    memos.foreach { case (m, build) =>
      metrics(s"memo.$m.rows") = timed(s"memo.$m.build_s")(build().count()).toDouble
    }
    val sweep = timed("memo.sweep.build_s") {
      KMeansSweep.sweepCached(pts, dir, 2, 6, 10).collect()
    }
    metrics("memo.sweep.rows") = sweep.length.toDouble
    metrics("cluster.sweep_s") = metrics("memo.sweep.build_s")
    sweep.foreach(r => metrics(s"cluster.sweep_k${r.getInt(0)}_s") = r.getLong(5) / 1e3)
    val cand = metrics("memo.pairs_b2r4.rows")
    metrics("text.candidate_pairs") = cand
    metrics("text.truth_pairs") = metrics("memo.truth.rows")
    metrics("text.pair_yield") = if (cand > 0) metrics("memo.truth.rows") / cand else 0.0
    metrics.toMap
  }
}
