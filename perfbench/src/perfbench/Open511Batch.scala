package perfbench

import java.io.File
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cluster.DBSCAN
import graft.ml.DurationPipeline
import graft.ops.{Clean, Ingest, Rollups}

/** The paper's batch pipeline, one job per iteration: Open511 JSON →
  * clean tables → rollups → DBSCAN on centroids → random-forest duration
  * model fit + predict, every result written as parquet. */
final class Open511Batch(a: Args, spark: SparkSession) extends Workload {
  private val in = s"${a.work}/open511/in"
  private val outRoot = s"${a.work}/open511/out"
  private val eps = a.dbl("dbscan_eps_km")
  private val minPts = a.int("dbscan_min_pts")
  private val trees = a.int("rf_trees")
  private var truth: Open511Truth = _
  private var iteration = 0L
  private val done = ArrayBuffer.empty[Long]
  private var storedBytes = 0L

  def generate(): Unit =
    truth = Open511Gen.generate(new SplittableRandom(a.seed), a.int("unique_events"), a.int("files"), new File(in))

  def setup(t: Tracer): Unit = (0 until a.int("warmup_jobs")).foreach(_ => job(t))

  private def out(it: Long) = s"$outRoot/$it"

  /** One job: input files to the complete written result. */
  private def job(t: Tracer): Long = {
    val it = iteration; iteration += 1
    val o = out(it)
    t.span("job", it) {
      val events = t.span("ops.ingest", it)(Ingest.readEvents(spark, in).localCheckpoint())
      val (ml, ts) = t.span("ops.clean", it) {
        (Clean.mlTable(events).localCheckpoint(), Clean.timeSeriesTable(events).localCheckpoint())
      }
      t.span("ops.rollup", it) {
        Clean.severityRollup(events).write.parquet(s"$o/severity")
        Clean.subtypeRollup(events).write.parquet(s"$o/subtype")
        Clean.monthlyRollup(events).write.parquet(s"$o/monthly")
        Rollups.countBy(ts, Seq("event_type", "severity")).write.parquet(s"$o/type_severity")
      }
      t.span("cluster.dbscan", it)(DBSCAN.run(dbscanInput(ml), eps, minPts).write.parquet(s"$o/dbscan"))
      val model = t.span("ml.fit", it) {
        DurationPipeline.rfPipeline(Seq("event_type", "severity"),
          Seq("longitude", "latitude", "num_roads", "num_areas", "severity_numeric"),
          "duration", numTrees = trees).fit(ml)
      }
      t.span("ml.predict", it)(DurationPipeline.predict(model, ml, "id").write.parquet(s"$o/predictions"))
      if (t.enabled) {
        explodeRatios += ts.count() / ml.count().toDouble
      }
      Seq(events, ml, ts).foreach(org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint)
    }
    it
  }
  private val explodeRatios = ArrayBuffer.empty[Double]

  def measure(seconds: Double, t: Tracer): Window = {
    val lat = ArrayBuffer.empty[Double]
    val t0 = Clock.nowMs
    var gap = 0.0
    var last = t0
    while (Clock.nowMs - t0 < seconds * 1000) {
      val s = Clock.nowMs
      gap = math.max(gap, s - last)
      done += job(t)
      last = Clock.nowMs
      lat += last - s
    }
    storedBytes = Disk.bytes(out(done.last))
    Window(lat.toArray, t0, Clock.nowMs, gap)
  }

  /** DBSCAN's input: each event's centroid as local x/y km, keyed by its numeric id. */
  private def dbscanInput(ml: DataFrame): DataFrame =
    DBSCAN.latLonToLocalXY(ml.select(
        regexp_extract(col("id"), "(\\d+)$", 1).cast("long").as("id"),
        col("latitude"), col("longitude")), "latitude", "longitude")
      .select("id", "x", "y")

  private def rows(df: DataFrame) = df.collect().toSeq

  def check(): Checked = {
    val ref = DbscanCheck.reference(dbscanInput(Clean.mlTable(Ingest.readEvents(spark, in))), eps, minPts)
    val bad = done.filter { it =>
      val o = out(it)
      val sev = rows(spark.read.parquet(s"$o/severity")).map(r => r.getString(0) -> r.getLong(1)).toMap
      val sub = rows(spark.read.parquet(s"$o/subtype")).map(r => r.getString(0) -> r.getLong(1)).toMap
      val mon = rows(spark.read.parquet(s"$o/monthly")).map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val ts = rows(spark.read.parquet(s"$o/type_severity"))
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val pred = spark.read.parquet(s"$o/predictions")
      val predOk = pred.count() == truth.uniqueEvents &&
        pred.filter(col("prediction").isNull || isnan(col("prediction"))).count() == 0
      val dbOk = DbscanCheck.same(ref, spark.read.parquet(s"$o/dbscan"), truth.uniqueEvents)
      val ok = sev == truth.severity && sub == truth.subtype && mon == truth.monthly &&
        ts == truth.typeSeverity && predOk && dbOk
      if (!ok) System.err.println(s"[perfbench] open511 job $it failed its check: severity=${sev == truth.severity} " +
        s"subtype=${sub == truth.subtype} monthly=${mon == truth.monthly} type_severity=${ts == truth.typeSeverity} " +
        s"predictions=$predOk dbscan=$dbOk")
      !ok
    }
    Checked(done.size, bad.size, Seq(s"checked ${done.size} jobs: rollups against generator truth, " +
      s"DBSCAN against DBSCAN.local (${ref.size} points), ${truth.uniqueEvents} predictions"))
  }

  def storedPerInputByte: Double = storedBytes.toDouble / truth.inputBytes

  def report(w: Window): Seq[String] = Seq(
    f"job_s ${Stats.median(w.latMs) / 1000}%.3f s over ${w.latMs.length} jobs of ${truth.rawEvents} events " +
      f"(${truth.uniqueEvents} unique, ${truth.inputBytes / Layer.MB}%.1f MB JSON)")

  def perLayer(w: Window, t: Tracer, setup: Tracer): Map[String, (Double, String)] = {
    val ingestS = Layer.spanS(t, "ops.ingest")
    Map(
      "ops.ingest_s" -> (ingestS, "s"),
      "ops.ingest_mb_per_s" -> (truth.inputBytes / Layer.MB / ingestS, "MB/s"),
      "ops.clean_s" -> (Layer.spanS(t, "ops.clean"), "s"),
      "ops.explode_ratio" -> (Stats.mean(explodeRatios.toSeq), "ratio"),
      "ops.rollup_s" -> (Layer.spanS(t, "ops.rollup"), "s"),
      "cluster.dbscan_s" -> (Layer.spanS(t, "cluster.dbscan"), "s"),
      "cluster.dbscan_jobs" -> (Stats.median(t.jobsPerSpan("cluster.dbscan").map(_.toDouble)), "count"),
      "cluster.dbscan_shuffle_mb" -> (t.shuffleBytes("cluster.dbscan") / Layer.MB / w.latMs.length, "MB"),
      "ml.fit_s" -> (Layer.spanS(t, "ml.fit"), "s"),
      "ml.fit_jobs" -> (Stats.median(t.jobsPerSpan("ml.fit").map(_.toDouble)), "count"),
      "ml.predict_s" -> (Layer.spanS(t, "ml.predict"), "s"),
      "sources.write_s" -> (t.ops.map(o => t.writeMsWithin(o.startMs, o.endMs)).sum / 1000.0 / w.latMs.length, "s"))
  }
}

/** DBSCAN labels checked against the exact single-node DBSCAN.local.
  * Points only interact within eps, so the reference runs per connected
  * group of occupied eps-grid cells, which keeps the quadratic reference
  * affordable. */
object DbscanCheck {
  final case class Ref(labels: Map[Long, Long], core: Set[Long]) { def size: Int = labels.size }

  /** Labels of the input points `(id, x, y)`. */
  def reference(input: DataFrame, eps: Double, minPts: Int): Ref = {
    val pts = input.select("id", "x", "y").collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val cell = (p: (Long, Double, Double)) => (math.floor(p._2 / eps).toLong, math.floor(p._3 / eps).toLong)
    val byCell = pts.groupBy(cell)
    // union occupied cells that touch (8-neighbourhood)
    val parent = scala.collection.mutable.HashMap.empty[(Long, Long), (Long, Long)]
    def find(c: (Long, Long)): (Long, Long) = { val p = parent.getOrElse(c, c); if (p == c) c else { val r = find(p); parent(c) = r; r } }
    for (c <- byCell.keys; dx <- -1L to 1L; dy <- -1L to 1L) {
      val n = (c._1 + dx, c._2 + dy)
      if (byCell.contains(n)) { val (ra, rb) = (find(c), find(n)); if (ra != rb) parent(ra) = rb }
    }
    val labels = scala.collection.mutable.HashMap.empty[Long, Long]
    val core = scala.collection.mutable.HashSet.empty[Long]
    byCell.keys.groupBy(find).values.foreach { cells =>
      val group = cells.toSeq.flatMap(c => byCell(c).toSeq)
      DBSCAN.local(group, eps, minPts).foreach { case (id, l) => labels(id) = if (l < 0) -1L else group.head._1 * 100000L + l }
      val e2 = eps * eps
      group.foreach { p =>
        if (group.count(q => (p._2 - q._2) * (p._2 - q._2) + (p._3 - q._3) * (p._3 - q._3) <= e2) >= minPts) core += p._1
      }
    }
    Ref(labels.toMap, core.toSet)
  }

  /** One row per input point, the same noise set, and the same partition
    * of core points; a border point may join any adjacent cluster, so it
    * only has to be clustered. */
  def same(ref: Ref, dbscanOut: DataFrame, uniqueEvents: Int): Boolean = {
    val rows = dbscanOut.select("id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1))
    val got = rows.toMap
    if (rows.length != uniqueEvents || got.size != rows.length || got.keySet != ref.labels.keySet) return false
    if (got.exists { case (id, l) => (l == -1L) != (ref.labels(id) == -1L) }) return false
    val pairs = ref.core.toSeq.map(id => (got(id), ref.labels(id))).distinct
    pairs.map(_._1).distinct.size == pairs.size && pairs.map(_._2).distinct.size == pairs.size
  }
}
