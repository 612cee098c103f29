package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cluster.ConnectedComponents
import graft.dedup.Dedup
import graft.sim.{PQ, Similarity}
import graft.text.{Curation, TextOps}

/** Closed-loop lookup serving, one client, one query item per lookup.
  * Set-up curates a seeded corpus (tokens and quality → exact dedup →
  * MinHash-LSH pairs → connected components → Curation.curate, each
  * written as parquet), persists the curated documents' band index, and
  * fills the PQ index cache through PQ.pqTopKCached. There are more
  * tenants than the 8-entry PQ BoundedCache holds, and their popularity
  * is Zipf-skewed, so some lookups build an index that is not cached.
  * A lookup is a kNN query for one vector of one tenant, or a near-dup
  * probe of one document against the band index
  * (Dedup.incrementalNearDupIndexed). */
final class LookupServe(a: Args, spark: SparkSession) extends Workload {
  import spark.implicits._
  private val root = s"${a.work}/lookup"
  private val docsPath = s"$root/docs.jsonl"
  private val curation = s"$root/curation"
  private val indexPath = s"$root/band-index"
  private val k = a.int("knn_k")
  // Curation's MinHash-LSH settings, which the incremental probe shares
  private val (shingleN, bands, rowsPerBand, minEstJaccard) = (3, 8, 4, 0.5)
  private var docs: Array[Doc] = _
  private var probes: Array[Doc] = _
  private var tenants: Array[Tenant] = _
  private var corpora: Array[DataFrame] = _
  private var exactTruth: Map[Long, Long] = _
  private var inputBytes = 0L
  private val ops = new SplittableRandom(a.seed * 31 + 7)
  private lazy val popularity = new Zipf(tenants.length, a.dbl("tenant_zipf_s"))

  /** One lookup: a kNN query (`tenant` >= 0) or a near-dup probe
    * (`tenant` = -1), with the ids it returned. */
  private final case class Lookup(id: Long, tenant: Int, item: Int, result: Seq[Long])
  private val done = ArrayBuffer.empty[Lookup]

  def generate(): Unit = {
    val r = new SplittableRandom(a.seed)
    val n = a.int("corpus_docs")
    val all = Corpus.generate(r, n + a.int("probe_docs"), a.dbl("exact_share"), a.dbl("near_share"))
    docs = all.take(n)
    // probes copy earlier documents at the same shares, so some are near-dups of the corpus
    probes = all.drop(n)
    exactTruth = ExactTruth.of(docs.toSeq)
    tenants = Embeddings.tenants(r, a.int("tenants"), a.int("vectors_per_tenant"), a.int("queries_per_tenant"),
      a.int("dim"), a.int("clusters"), a.dbl("cluster_noise"))
    val sources = Array("web", "forum", "news", "wiki")
    new File(root).mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(docsPath), StandardCharsets.UTF_8))
    try docs.foreach { d =>
      w.write(s"""{"doc_id":${d.id},"text":"${d.text}","lang":"${d.lang}",""" +
        s""""source":"${sources((d.id % sources.length).toInt)}","n_chars":${d.text.length}}""")
      w.newLine()
    } finally w.close()
    inputBytes = docs.map(_.text.length.toLong).sum
  }

  private def corpus: DataFrame =
    spark.read.schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG").json(docsPath)

  def setup(t: Tracer): Unit = {
    t.span("curation", 0L) {
      val c = corpus
      t.span("text.tokenize", 0L)(TextOps.tokenCounts(c).write.parquet(s"$curation/tokens"))
      t.span("text.quality", 0L)(TextOps.qualityScores(c).write.parquet(s"$curation/quality"))
      t.span("dedup.exact", 0L)(Dedup.exactDedup(c).write.parquet(s"$curation/exact"))
      t.span("dedup.minhash", 0L) {
        Dedup.minhashLsh(c, shingleN, bands, rowsPerBand, minEstJaccard).write.parquet(s"$curation/pairs")
      }
      t.span("cluster.cc", 0L) {
        ConnectedComponents.components(c.select("doc_id"), spark.read.parquet(s"$curation/pairs").select("doc_a", "doc_b"))
          .write.parquet(s"$curation/components")
      }
      t.span("text.curate", 0L)(Curation.curate(c).write.parquet(s"$curation/curated"))
    }
    t.span("sim.index", 0L)(Dedup.writeBandIndex(curated, indexPath, shingleN, bands, rowsPerBand))
    corpora = tenants.map(tn => tn.vectors.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding").localCheckpoint())
    // Building every tenant in turn would leave the cache holding the
    // `pq_cache_entries` most popular ones (the least popular, built first,
    // evicted): set-up builds just those, `cores` at a time. The others are
    // built when first looked up.
    val pool = Executors.newFixedThreadPool(a.cores)
    try (0 until math.min(a.int("pq_cache_entries"), tenants.length)).map(i => pool.submit(new Callable[Unit] {
        def call(): Unit = t.span("sim.build", i.toLong)(knn(i, 0).collect())
      })).foreach(_.get())
    finally pool.shutdown()
    (0 until a.int("warmup_lookups")).foreach(_ => lookup(Tracer.off(spark), -1L))
  }

  /** The curated documents' (doc_id, text): the band index's corpus. */
  private def curated: DataFrame =
    spark.read.parquet(s"$curation/curated").select("doc_id").join(corpus.select("doc_id", "text"), "doc_id")

  private def queryFrame(t: Int, qs: Seq[Int]): DataFrame =
    qs.map(q => (Embeddings.QueryIdBase + q, tenants(t).queries(q).toSeq)).toDF("vec_id", "embedding")

  private def knn(t: Int, q: Int): DataFrame = PQ.pqTopKCached(tenants(t).name, queryFrame(t, Seq(q)), corpora(t), k)

  private def probe(p: Int): DataFrame =
    Dedup.incrementalNearDupIndexed(spark, indexPath, Seq((probes(p).id, probes(p).text)).toDF("doc_id", "text"),
      shingleN, bands, rowsPerBand, minEstJaccard)

  /** Draws and runs the next lookup of the seeded sequence; `id` < 0 for
    * warm-up lookups, which are not recorded. */
  private def lookup(t: Tracer, id: Long): Unit = {
    val lexical = ops.nextDouble() >= a.dbl("knn_share")
    val (tenant, item) =
      if (lexical) (-1, ops.nextInt(probes.length))
      else (popularity.sample(ops), ops.nextInt(a.int("queries_per_tenant")))
    val result = t.span("lookup", id) {
      if (lexical) t.span("dedup.probe", id)(probe(item).collect().map(_.getLong(0)).toSeq)
      else t.span("sim.knn", id)(knn(tenant, item).collect().map(_.getAs[Long]("neighbor_id")).toSeq)
    }
    if (id >= 0) done += Lookup(id, tenant, item, result)
  }

  def measure(seconds: Double, t: Tracer): Window = {
    val lat = ArrayBuffer.empty[Double]
    val t0 = Clock.nowMs
    while (Clock.nowMs - t0 < seconds * 1000) {
      val s = Clock.nowMs
      lookup(t, done.size.toLong)
      lat += Clock.nowMs - s
    }
    Window(lat.toArray, t0, Clock.nowMs, 0.0)
  }

  /** Curation outputs against the generator's exact-duplicate truth and
    * against each other; every kNN lookup against Similarity.bruteForceTopK
    * (recall floor); every probe against Dedup.incrementalNearDup over the
    * curated documents, computed in one batch. */
  private lazy val checked: (Checked, Double) = {
    val info = ArrayBuffer.empty[String]
    val exact = spark.read.parquet(s"$curation/exact").select("keep_doc", "n_copies").as[(Long, Long)].collect().toMap
    val pairs = spark.read.parquet(s"$curation/pairs").select("doc_a", "doc_b").as[(Long, Long)].collect()
    val comp = spark.read.parquet(s"$curation/components").select("id", "component").as[(Long, Long)].collect().toMap
    val kept = spark.read.parquet(s"$curation/curated").select("doc_id", "lang", "n_tokens").as[(Long, String, Long)]
      .collect()
    val langs = Curation.Config().langs.toSet
    val exactOk = exact == exactTruth
    val ccOk = comp.size == docs.length && pairs.forall { case (x, y) => comp(x) == comp(y) } &&
      comp.forall { case (id, c) => c <= id }
    val curatedOk = kept.nonEmpty && kept.forall { case (id, lang, n) => exact.contains(id) && langs(lang) && n >= 5 } &&
      kept.map(_._1).distinct.length == kept.length
    if (!(exactOk && ccOk && curatedOk)) System.err.println(
      s"[perfbench] curation failed its check: exact=$exactOk components=$ccOk curated=$curatedOk")
    info += s"curation: ${exact.size} exact groups match the generator, ${pairs.length} MinHash pairs, " +
      s"${comp.values.toSet.size} components, ${kept.length} curated of ${docs.length}"

    val knnDone = done.filter(_.tenant >= 0)
    val recalls = knnDone.groupBy(_.tenant).toSeq.flatMap { case (tn, ls) =>
      val qs = ls.map(_.item).distinct.toSeq
      val exactNn = Similarity.bruteForceTopK(queryFrame(tn, qs), corpora(tn), k)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, ns) => (q - Embeddings.QueryIdBase).toInt -> ns.map(_._2).toSet }
      ls.map(l => l.id -> l.result.count(exactNn(l.item)).toDouble / k)
    }.toMap
    val floor = a.dbl("recall_floor")
    val badKnn = recalls.count(_._2 < floor)

    val probeDone = done.filter(_.tenant < 0)
    val probed = probeDone.map(_.item).distinct.toSeq
    val admitted = Dedup.incrementalNearDup(curated,
        probed.map(p => (probes(p).id, probes(p).text)).toDF("doc_id", "text"),
        shingleN, bands, rowsPerBand, minEstJaccard)
      .as[Long].collect().toSet
    val badProbe = probeDone.count(l => l.result != Seq(probes(l.item).id).filter(admitted))
    val meanRecall = Stats.mean(recalls.values.toSeq)
    info += f"kNN: ${knnDone.size} lookups over ${knnDone.map(_.tenant).distinct.size} tenants, mean recall@$k " +
      f"$meanRecall%.3f against brute force, $badKnn below the $floor floor; near-dup probes: " +
      s"${probeDone.size - badProbe} of ${probeDone.size} match Dedup.incrementalNearDup " +
      s"(${probeDone.count(_.result.isEmpty)} rejected as near-dups)"
    val failed = badKnn + badProbe + (if (exactOk && ccOk && curatedOk) 0 else 1)
    (Checked(done.size + 1L, failed.toLong, info.toSeq), meanRecall)
  }
  def check(): Checked = checked._1

  def storedPerInputByte: Double =
    (Disk.bytes(curation) + Disk.bytes(indexPath)).toDouble / inputBytes

  def report(w: Window): Seq[String] = {
    val knnShare = done.count(_.tenant >= 0).toDouble / math.max(done.size, 1)
    Seq(f"lookup_ms_p50 ${Stats.median(w.latMs)}%.1f ms over ${w.latMs.length} lookups " +
      f"(${100 * knnShare}%.0f%% kNN over ${tenants.length} tenants, the rest near-dup probes)")
  }

  def perLayer(w: Window, t: Tracer, setup: Tracer): Map[String, (Double, String)] = {
    def setupS(name: String) = setup.named(name).map(_.ms).sum / 1000.0
    val knnSpans = t.named("sim.knn")
    val knnJobs = knnSpans.map(s => t.jobsIn(s))
    val pairs = spark.read.parquet(s"$curation/pairs").count()
    // band-bucket candidate pairs: distinct document pairs sharing any (band, bucket)
    val br = Dedup.bandRows(corpus, shingleN, bands, rowsPerBand).select("doc_id", "band", "bucket")
    val candidates = br.as("x").join(br.as("y"), Seq("band", "bucket"))
      .filter(col("x.doc_id") < col("y.doc_id")).select("x.doc_id", "y.doc_id").distinct().count()
    Map(
      "text.tokenize_s" -> (setupS("text.tokenize"), "s"),
      "text.quality_s" -> (setupS("text.quality"), "s"),
      "text.curate_s" -> (setupS("text.curate"), "s"),
      "dedup.exact_s" -> (setupS("dedup.exact"), "s"),
      "dedup.minhash_s" -> (setupS("dedup.minhash"), "s"),
      "dedup.shuffle_mb" -> ((setup.shuffleBytes("dedup.exact") + setup.shuffleBytes("dedup.minhash")) / Layer.MB, "MB"),
      "dedup.pairs_per_doc" -> (pairs.toDouble / docs.length, "ratio"),
      "dedup.verified_per_candidate" -> (pairs.toDouble / math.max(candidates, 1L), "ratio"),
      "cluster.cc_s" -> (setupS("cluster.cc"), "s"),
      "cluster.cc_jobs" -> (setup.jobsPerSpan("cluster.cc").sum.toDouble, "count"),
      "sim.lookup_jobs_p50" -> (Stats.median(knnJobs.map(_.size.toDouble)), "count"),
      "sim.lookup_jobs_max" -> (knnJobs.map(_.size).maxOption.getOrElse(0).toDouble, "count"),
      "sim.cache_hit_ratio" -> (knnJobs.count(!_.exists(_.build)).toDouble / math.max(knnJobs.size, 1), "ratio"),
      "sim.build_s" -> (Stats.median(setup.named("sim.build").map(_.ms / 1000.0)), "s"),
      "sim.recall_at_k" -> (checked._2, "ratio"),
      "sources.index_files" -> (Disk.count(indexPath).toDouble, "count"),
      "sources.index_bytes" -> (Disk.bytes(indexPath).toDouble, "bytes"))
  }
}
