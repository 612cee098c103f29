package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{Instant, ZoneOffset}
import java.util.SplittableRandom
import scala.collection.mutable

/** Zipf(s) over ranks 0 until n by inverse-CDF lookup. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i < 0) -i - 1 else i, n - 1)
  }
}

/** Synthetic per-language vocabularies: disjoint syllable alphabets, so a
  * word identifies its language. Independent of the seed. */
object Vocab {
  val Langs: Seq[String] = Seq("en", "es", "fr", "de", "xx")
  private val syllables: Map[String, Array[String]] = Map(
    "en" -> Array("th", "er", "an", "st", "or", "ing", "ed", "al", "ow", "ly", "wh", "ght"),
    "es" -> Array("ca", "do", "la", "mo", "ri", "ta", "es", "pe", "ci", "nu", "ll", "os"),
    "fr" -> Array("eau", "ou", "ai", "qu", "on", "eu", "ois", "ch", "ne", "ve", "re", "lle"),
    "de" -> Array("sch", "ei", "ie", "au", "ung", "ge", "ck", "tz", "en", "be", "ver", "ach"),
    "xx" -> Array("zo", "xu", "kv", "yq", "jw", "vz", "qo", "xi", "zy", "wq", "kx", "jj"))

  def word(lang: String, i: Int): String = {
    val syl = syllables(lang)
    val sb = new StringBuilder
    var k = i + syl.length // at least two syllables
    while (k > 0) { sb.append(syl(k % syl.length)); k /= syl.length }
    sb.toString
  }

  def words(lang: String, n: Int): Array[String] =
    Iterator.from(0).map(word(lang, _)).distinct.take(n).toArray
}

final case class Doc(id: Long, text: String, lang: String)

/** Seeded text: Zipfian token draws, exact copies that differ only in
  * case and whitespace (equal after the fingerprint's normalization) and
  * near-duplicates made by word substitutions. */
final class TextGen(r: SplittableRandom, vocabSize: Int = 4000) {
  private val vocab = Vocab.Langs.map(l => l -> Vocab.words(l, vocabSize)).toMap
  private val zipf = new Zipf(vocabSize, 1.1)

  def lang(): String = {
    val u = r.nextDouble()
    if (u < 0.4) "en" else if (u < 0.6) "es" else if (u < 0.75) "fr" else if (u < 0.9) "de" else "xx"
  }
  def text(lang: String, nTok: Int): String =
    Array.fill(nTok)(vocab(lang)(zipf.sample(r))).mkString(" ")

  /** A document's text of 40–120 tokens, or 3% of the time a 2–4 token stub. */
  def body(lang: String): String =
    if (r.nextDouble() < 0.03) text(lang, 2 + r.nextInt(3)) else text(lang, 40 + r.nextInt(81))

  def exactCopy(t: String): String = {
    val toks = t.split(" ")
    val at = 1 + r.nextInt(toks.length - 1)
    val spaced = (toks.take(at).mkString(" ") + "  " + toks.drop(at).mkString(" "))
    spaced.substring(0, 1).toUpperCase + spaced.substring(1)
  }

  def nearCopy(t: String, lang: String, edits: Int): String = {
    val toks = t.split(" ")
    (0 until edits).foreach(_ => toks(r.nextInt(toks.length)) = vocab(lang)(r.nextInt(vocabSize)))
    toks.mkString(" ")
  }
}

object Corpus {
  /** `n` documents with ids 0 until n; `exactShare` of them exact copies
    * and `nearShare` near copies (2 substituted words) of earlier originals. */
  def generate(r: SplittableRandom, n: Int, exactShare: Double, nearShare: Double): Array[Doc] = {
    val g = new TextGen(r)
    val docs = new Array[Doc](n)
    val originals = mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until n) {
      val id = i.toLong
      val u = r.nextDouble()
      docs(i) =
        if (originals.size >= 20 && u < exactShare) {
          val o = docs(originals(r.nextInt(originals.size)))
          Doc(id, g.exactCopy(o.text), o.lang)
        } else if (originals.size >= 20 && u < exactShare + nearShare) {
          val o = docs(originals(r.nextInt(originals.size)))
          Doc(id, g.nearCopy(o.text, o.lang, 2), o.lang)
        } else {
          val l = g.lang()
          val d = Doc(id, g.body(l), l)
          if (d.text.count(_ == ' ') >= 20) originals += i
          d
        }
    }
    docs
  }
}

/** Ground truth of one generated Open511 harvest set, per unique event. */
final case class Open511Truth(
    uniqueEvents: Int, rawEvents: Int, inputBytes: Long,
    severity: Map[String, Long], subtype: Map[String, Long],
    monthly: Map[(Long, Long), Long], typeSeverity: Map[(String, String), Long])

/** Open511 `{"events": [...]}` harvest files: Point and LineString events
  * around traffic hotspots, ids repeated across overlapping re-harvests
  * (each later copy with a later `updated`), 1–3 subtypes, roads and
  * areas, and created/updated stamps with -07:00/-08:00 offsets. */
object Open511Gen {
  private val types = Array("CONSTRUCTION", "INCIDENT", "SPECIAL_EVENT", "WEATHER_CONDITION", "ROAD_CONDITION")
  private val severities = Array("MINOR", "MODERATE", "MAJOR", "UNKNOWN")
  private val subtypes = Array("ROAD_MAINTENANCE", "ROAD_CLOSED", "HAZARD", "PARKING", "SINGLE_LANE_ALTERNATING",
    "LANE_CLOSED", "SNOW_PACKED", "ICE", "ALMOST_IMPASSABLE", "DELAYS", "BRIDGE_CLOSED", "REDUCED_SPEED")
  private val roadNames = Array.tabulate(60)(i => s"Highway ${i + 1}")
  private val areaNames = Array.tabulate(12)(i => s"District ${i + 1}")
  private val Epoch0 = Instant.parse("2023-01-01T00:00:00Z").getEpochSecond

  private def pick[T](r: SplittableRandom, xs: Array[T], k: Int): Seq[T] = {
    val idx = mutable.LinkedHashSet.empty[Int]
    while (idx.size < k) idx += r.nextInt(xs.length)
    idx.toSeq.map(xs(_))
  }
  private def num(x: Double): String = java.lang.Double.toString(math.rint(x * 1e5) / 1e5)
  private val stampFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssXXX")
  private def stamp(epochS: Long, offsetH: Int): String =
    Instant.ofEpochSecond(epochS).atOffset(ZoneOffset.ofHours(offsetH)).format(stampFormat)

  def generate(r: SplittableRandom, unique: Int, files: Int, dir: File): Open511Truth = {
    dir.mkdirs()
    val hotspots = Array.fill(24)((49.0 + 6.5 * r.nextDouble(), -127.0 + 10.0 * r.nextDouble()))
    val shards = Array.fill(files)(mutable.ArrayBuffer.empty[String])
    val sev = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val sub = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val mon = mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    val ts = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    var raw = 0
    for (i <- 0 until unique) {
      val tpe = types(r.nextInt(types.length))
      val sv = severities(r.nextInt(severities.length))
      val subs = pick(r, subtypes, 1 + r.nextInt(3))
      val roads = pick(r, roadNames, 1 + r.nextInt(3))
      val areas = pick(r, areaNames, 1 + r.nextInt(3))
      val (lat, lon) =
        if (r.nextDouble() < 0.85) {
          val (hl, ho) = hotspots(r.nextInt(hotspots.length))
          (hl + 0.1 * r.nextGaussian(), ho + 0.15 * r.nextGaussian())
        } else (49.0 + 6.5 * r.nextDouble(), -127.0 + 10.0 * r.nextDouble())
      val geo =
        if (r.nextDouble() < 0.6) s"""{"type":"Point","coordinates":[${num(lon)},${num(lat)}]}"""
        else {
          val pts = (0 until 2 + r.nextInt(4)).map(_ =>
            s"[${num(lon + 0.01 * r.nextGaussian())},${num(lat + 0.01 * r.nextGaussian())}]")
          s"""{"type":"LineString","coordinates":[${pts.mkString(",")}]}"""
        }
      val created = Epoch0 + (r.nextDouble() * 2 * 365 * 86400).toLong
      val offset = if (r.nextBoolean()) -7 else -8
      val typeFactor = 1.0 + types.indexOf(tpe) + 2.0 * severities.indexOf(sv)
      val hours = typeFactor * 6.0 * math.exp(0.5 * r.nextGaussian())
      val copies = { val u = r.nextDouble(); if (u < 0.5) 1 else if (u < 0.8) 2 else 3 }
      val id = s"drivebc.ca/DBC-${100000 + i}"
      for (c <- 0 until copies) {
        val updated = created + (hours * 3600).toLong + c * 3 * 3600L
        val roadJson = roads.map(n =>
          s"""{"name":"$n","from":"km ${r.nextInt(200)}","to":"km ${r.nextInt(200)}","direction":"BOTH"}""")
        val areaJson = areas.map(n =>
          s"""{"url":"https://api.open511.gov.bc.ca/areas/${n.hashCode.abs}","name":"$n","id":"${n.hashCode.abs}"}""")
        shards(r.nextInt(files)) +=
          s"""{"jurisdiction_url":"https://api.open511.gov.bc.ca/jurisdiction","url":"https://api.open511.gov.bc.ca/events/$id","id":"$id","headline":"$tpe","status":"ACTIVE","created":"${stamp(created, offset)}","updated":"${stamp(updated, offset)}","description":"$tpe on ${roads.head} revision $c","+ivr_message":"Drive with care","+linear_reference_km":${num(r.nextDouble() * 300)},"event_type":"$tpe","event_subtypes":[${subs.map(s => "\"" + s + "\"").mkString(",")}],"severity":"$sv","geography":$geo,"roads":[${roadJson.mkString(",")}],"areas":[${areaJson.mkString(",")}],"schedule":{"intervals":["${stamp(created, offset)}/"]}}"""
        raw += 1
      }
      // truth over the unique event; time-series rows = subtypes × roads × areas
      val rows = (roads.size * areas.size).toLong
      sev(sv) += 1
      subs.foreach(s => sub(s) += rows)
      val utc = Instant.ofEpochSecond(created).atOffset(ZoneOffset.UTC)
      mon((utc.getYear.toLong, utc.getMonthValue.toLong)) += rows * subs.size
      ts((tpe, sv)) += rows * subs.size
    }
    var bytes = 0L
    shards.zipWithIndex.foreach { case (events, k) =>
      val f = new File(dir, f"harvest-$k%03d.json")
      val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8))
      try {
        w.write("{\"events\": [\n")
        w.write(events.mkString(",\n"))
        w.write("\n]}\n")
      } finally w.close()
      bytes += f.length()
    }
    Open511Truth(unique, raw, bytes, sev.toMap, sub.toMap, mon.toMap, ts.toMap)
  }
}

/** Exact-duplicate truth of a corpus under the fingerprint's
  * normalization (lowercase, whitespace runs collapsed): per distinct
  * normalized text, its lowest doc id and its number of copies. */
object ExactTruth {
  def of(docs: Seq[Doc]): Map[Long, Long] =
    docs.groupBy(d => d.text.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " "))
      .values.map(g => g.map(_.id).min -> g.size.toLong).toMap
}

/** One tenant's embedding corpus and its query vectors. Ids of the queries
  * start at `QueryIdBase`, so they never equal a corpus id. */
final case class Tenant(name: String, vectors: Array[Array[Float]], queries: Array[Array[Float]])

/** Seeded clustered embeddings: each tenant's vectors scatter around its
  * own random unit centres; queries are fresh draws around the same
  * centres. */
object Embeddings {
  val QueryIdBase = 1000000L

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def tenants(r: SplittableRandom, count: Int, vectors: Int, queries: Int, dim: Int, clusters: Int,
              noise: Double): Array[Tenant] =
    Array.tabulate(count) { t =>
      val centres = Array.fill(clusters)(unit(Array.fill(dim)(r.nextGaussian())))
      def draw(): Array[Float] = {
        val c = centres(r.nextInt(clusters))
        unit(Array.tabulate(dim)(i => c(i) + noise * r.nextGaussian()))
      }
      Tenant(f"tenant-$t%02d", Array.fill(vectors)(draw()), Array.fill(queries)(draw()))
    }
}
