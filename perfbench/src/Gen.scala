package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.text.Normalizer
import scala.util.Random

/** One Kafka-shaped record, as the reference crawler pushes it. */
case class Envelope(key: Array[Byte], value: Array[Byte], timestamp: Timestamp)

/** What the generator itself knows about one offered micro-batch: the
  * envelopes, plus the tallies and arrival classes the checks compare the
  * program's outputs against. Nothing here is computed by Spark.
  */
final case class Offered(
    envelopes: Array[Envelope],
    valid: Int,
    domains: Map[String, Long],
    minLen: Long, maxLen: Long, totalLen: Long,
    arrivals: Map[Long, Arrival])

/** A well-formed ingest arrival and the class it was planted as. */
final case class Arrival(docId: Long, text: String, kind: String)

/** Seeded input generators. Every input of a run is a pure function of the
  * run's seed, so the same seed always offers the same documents.
  */
object Gen {

  // the fixture corpus's 30-word vocabulary, plus NFC Vietnamese words so
  // that NFD-decomposed copies differ byte-wise from their originals
  val Vocab: Array[String] = Array(
    "scan", "column", "window", "order", "sort", "part", "agg", "value", "line",
    "key", "join", "merge", "group", "query", "a", "vector", "hash", "slow",
    "stream", "filter", "fast", "the", "batch", "spark", "table", "small",
    "data", "big", "customer", "row")
  val VietWords: Array[String] = Array(
    "tiếng", "việt", "nội", "dung", "pháp", "luật", "quyết", "định", "năm",
    "số", "điều", "khoản", "văn", "bản", "hướng", "dẫn")
  val Domains: Array[String] = Array.tabulate(16)(i => s"site$i.vn")
  val Stopwords: Array[String] = Array("the", "a", "of", "and", "to", "in", "is", "on", "for")

  /** Zipf-like domain pick: about half the documents land on 3 domains. */
  def domain(r: Random): String = Domains((math.pow(r.nextDouble(), 2.2) * Domains.length).toInt)

  def words(r: Random, n: Int, pool: Array[String]): String =
    Array.fill(n)(pool(r.nextInt(pool.length))).mkString(" ")

  /** Content length in words: log-normal around ~60, clamped to [3, 600]. */
  def nWords(r: Random): Int =
    math.max(3, math.min(600, math.exp(4.1 + 0.8 * r.nextGaussian()).toInt))

  /** A token no vocabulary contains: letters drawn apart from any word above. */
  def oovToken(r: Random): String =
    "zq" + Array.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString

  def json(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def docJson(domain: String, filename: String, content: String): String = {
    def f(v: String) = if (v == null) "null" else json(v)
    s"""{"domain": ${f(domain)}, "filename": ${f(filename)}, "content": ${f(content)}, "file_path": ${f(s"/data/$domain/$filename")}}"""
  }

  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** Build one batch of envelopes from (domain, filename, content) triples,
    * replacing ~2% with malformed JSON and ~3% with a null field, and tally
    * the well-formed, fully non-null ones (lengths in code points, as
    * Spark's `length` counts them).
    */
  private def envelopes(r: Random, docs: Seq[(String, String, String)],
                        arrivals: Map[Long, Arrival]): Offered = {
    var valid = 0; var mn = Long.MaxValue; var mx = Long.MinValue; var tot = 0L
    val dom = scala.collection.mutable.Map.empty[String, Long]
    var keep = arrivals
    val env = docs.zipWithIndex.map { case ((d, f, c), i) =>
      val u = r.nextDouble()
      val value =
        if (u < 0.02) { // malformed: breaks before any field parses
          keep -= f.toLongOption.getOrElse(-1L)
          Vector("{broken", "not json", "{\"dom", "")(r.nextInt(4))
        } else if (u < 0.05) {
          keep -= f.toLongOption.getOrElse(-1L)
          r.nextInt(3) match {
            case 0 => docJson(null, f, c)
            case 1 => docJson(d, null, c)
            case _ => docJson(d, f, null)
          }
        } else {
          valid += 1
          val len = c.codePointCount(0, c.length).toLong
          mn = math.min(mn, len); mx = math.max(mx, len); tot += len
          dom(d) = dom.getOrElse(d, 0L) + 1
          docJson(d, f, c)
        }
      Envelope(s"${d}_$f".getBytes(UTF_8), value.getBytes(UTF_8), new Timestamp(T0 + i * 10L))
    }.toArray
    Offered(env, valid, dom.toMap, mn, mx, tot, keep)
  }

  /** consumer_stats: crawled documents with a skewed domain mix, log-normal
    * lengths, occasional non-BMP characters, quotes and newlines.
    */
  def consumerBatch(seed: Long, k: Int, size: Int): Offered = {
    val r = new Random(seed * 1000003L + k)
    val docs = (0 until size).map { i =>
      val sb = new StringBuilder(words(r, nWords(r), Vocab))
      if (r.nextDouble() < 0.1) sb.append(" 📄 ").append(words(r, 3, VietWords))
      if (r.nextDouble() < 0.05) sb.append("\n\"quoted\" tail")
      (domain(r), s"doc-$k-$i.txt", sb.toString)
    }
    envelopes(r, docs, Map.empty)
  }

  /** The frozen base corpus of ingest_gate: doc_id = 3 × article, so a
    * recrawl of article a can arrive as doc_id 3a+1 (the gate's URL
    * synthesis keys articles on doc_id div 3).
    */
  def baseCorpus(seed: Long, n: Int): Array[(Long, String, String)] = {
    val r = new Random(seed * 7919L + 1)
    Array.tabulate(n) { a =>
      val t = words(r, 30 + r.nextInt(90), Vocab)
      val text = if (a % 3 == 0) t + " " + words(r, 4, VietWords) else t
      (3L * a, text, s"src${a % 20}")
    }
  }

  /** ingest_gate arrivals, in planted classes (shares of one batch):
    * copy 10%, NFD copy 6%, near copy 10%, recrawl 10%, novel prose 34%,
    * novel out-of-vocabulary 30%. doc_ids are unique within a batch and
    * never collide with base ids.
    */
  def ingestBatch(seed: Long, k: Int, size: Int,
                  base: Array[(Long, String, String)]): Offered = {
    val r = new Random(seed * 1000033L + k)
    val accented = base.filter(_._2.exists(_ > 127))
    val recrawled = r.shuffle(base.indices.toVector).iterator
    val docs = (0 until size).map { i =>
      val fresh = 3L * (base.length + k.toLong * size + i) + 1
      val u = r.nextDouble()
      val (id, text, kind) =
        if (u < 0.10) { val b = base(r.nextInt(base.length)); (fresh, b._2, "copy") }
        else if (u < 0.16) {
          val b = accented(r.nextInt(accented.length))
          (fresh, Normalizer.normalize(b._2, Normalizer.Form.NFD), "nfd_copy")
        } else if (u < 0.26) {
          val b = base(r.nextInt(base.length))._2.split(" ")
          b(r.nextInt(b.length)) = Vocab(r.nextInt(Vocab.length))
          (fresh, b.mkString(" ") + " " + Vocab(r.nextInt(Vocab.length)), "near_copy")
        } else if (u < 0.36) {
          (base(recrawled.next())._1 + 1, words(r, 40, Vocab) + " " +
            Array.fill(20)(oovToken(r)).mkString(" "), "recrawl")
        } else if (u < 0.70) {
          val t = (0 until 40 + r.nextInt(60)).map { j =>
            if (j % 2 == 0) Stopwords(r.nextInt(Stopwords.length)) else oovToken(r)
          }.mkString(" ")
          (fresh, t, "novel_prose")
        } else (fresh, Array.fill(20 + r.nextInt(80))(oovToken(r)).mkString(" "), "novel_oov")
      (id, text, kind)
    }
    val arrivals = docs.map { case (id, t, kind) => id -> Arrival(id, t, kind) }.toMap
    envelopes(r, docs.map { case (id, t, _) => (s"src${id % 20}", id.toString, t) }, arrivals)
  }

  def md5Nfc(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(Normalizer.normalize(s, Normalizer.Form.NFC).getBytes(UTF_8))
      .map("%02x".format(_)).mkString
  }
}
