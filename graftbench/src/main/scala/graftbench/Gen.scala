package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generators. Every input the program sees is made here,
  * from the run's seed, before any timed window starts; the same seed
  * always yields byte-identical inputs.
  */
object Gen {

  // ---------------------------------------------------------------- CDC

  /** One generated Kafka record plus the fields a correct router must
    * read from it (`op`/`db`/`table` are null for planted garbage).
    */
  final case class Event(topic: String, key: Array[Byte], value: Array[Byte],
      op: String, db: String, table: String, malformed: Boolean)

  /** Debezium op mix: snapshot reads, creates, updates, ~20% deletes. */
  private val OpMix: Seq[(String, Double)] =
    Seq("r" -> 0.05, "c" -> 0.35, "u" -> 0.40, "d" -> 0.20)
  val MalformedShare = 0.005

  /** Mean envelope size over the op mix, in bytes; [[row]] is padded
    * so that generated envelopes land here.
    */
  val EnvelopeBytes = 760

  /** `n` Debezium-style envelopes ([[EnvelopeBytes]] on average,
    * before/after/source blocks) over the given topic × db × table
    * space. About 0.5% are
    * malformed: half truncated mid-envelope (before `source`/`op` are
    * reached), half raw non-JSON bytes.
    */
  def envelopes(seed: Long, n: Int, topics: IndexedSeq[String],
      dbs: IndexedSeq[String], tables: IndexedSeq[String]): Array[Event] = {
    val rnd = new SplittableRandom(seed)
    val sb = new java.lang.StringBuilder(1024)
    Array.tabulate(n) { i =>
      val topic = topics(rnd.nextInt(topics.length))
      val db = dbs(rnd.nextInt(dbs.length))
      val table = tables(rnd.nextInt(tables.length))
      val id = 1000000L + i
      val key = s"""{"id":$id}""".getBytes(UTF_8)
      val op = pick(rnd, OpMix)
      val tsMs = 1767225600000L + i * 7L
      sb.setLength(0)
      sb.append("{\"before\":")
      if (op == "c" || op == "r") sb.append("null") else row(sb, rnd, id, tsMs - 3000)
      sb.append(",\"after\":")
      if (op == "d") sb.append("null") else row(sb, rnd, id, tsMs)
      sb.append(",\"source\":{\"version\":\"2.7.3.Final\",\"connector\":\"mysql\",")
        .append("\"name\":\"cdc-prod\",\"ts_ms\":").append(tsMs - 40)
        .append(",\"snapshot\":\"").append(if (op == "r") "true" else "false")
        .append("\",\"db\":\"").append(db).append("\",\"sequence\":null,")
        .append("\"table\":\"").append(table).append("\",\"server_id\":184054,")
        .append("\"gtid\":null,\"file\":\"mysql-bin.000").append(100 + rnd.nextInt(800))
        .append("\",\"pos\":").append(rnd.nextInt(Int.MaxValue))
        .append(",\"row\":0,\"thread\":").append(rnd.nextInt(64))
        .append(",\"query\":null},\"op\":\"").append(op)
        .append("\",\"ts_ms\":").append(tsMs).append(",\"transaction\":null}")
      val json = sb.toString.getBytes(UTF_8)
      if (rnd.nextDouble() < MalformedShare) {
        val bad =
          if (rnd.nextBoolean()) java.util.Arrays.copyOf(json, 20 + rnd.nextInt(json.length / 3))
          else Array.fill(64 + rnd.nextInt(256))((rnd.nextInt(256) - 128).toByte)
        Event(topic, key, bad, null, null, null, malformed = true)
      } else Event(topic, key, json, op, db, table, malformed = false)
    }
  }

  /** A row image of a generic order table. With two row images in a
    * `u` and one in every other op, the op mix averages 1.4 rows per
    * envelope; the shipping address and note pad rows so that envelopes
    * average [[EnvelopeBytes]].
    */
  private def row(sb: java.lang.StringBuilder, rnd: SplittableRandom,
      id: Long, tsMs: Long): Unit = {
    sb.append("{\"id\":").append(id)
      .append(",\"tenant_id\":").append(rnd.nextInt(5000))
      .append(",\"status\":\"").append(Statuses(rnd.nextInt(Statuses.length)))
      .append("\",\"amount\":\"").append(rnd.nextInt(100000)).append('.')
      .append(10 + rnd.nextInt(90)).append("\",\"currency\":\"EUR\",\"ship_to\":\"")
      .append(1 + rnd.nextInt(999)).append(' ')
    letters(sb, rnd, 55 + rnd.nextInt(50))
    sb.append("\",\"note\":\"")
    letters(sb, rnd, 45 + rnd.nextInt(60))
    sb.append("\",\"updated_at\":").append(tsMs).append('}')
  }
  private def letters(sb: java.lang.StringBuilder, rnd: SplittableRandom, n: Int): Unit = {
    var k = n
    while (k > 0) { sb.append(('a' + rnd.nextInt(26)).toChar); k -= 1 }
  }
  private val Statuses = Array("PENDING", "PAID", "SHIPPED", "CANCELLED", "REFUNDED")

  private def pick(rnd: SplittableRandom, mix: Seq[(String, Double)]): String = {
    var u = rnd.nextDouble()
    mix.find { case (_, p) => u -= p; u < 0 }.getOrElse(mix.last)._1
  }

  // ---------------------------------------------------------- documents

  /** A generated document and what the benchmark knows about it. */
  final case class Doc(id: Long, text: String, lang: String,
      plantedDupOf: Long) // -1 unless this doc is a planted near-dup

  val Stopwords: IndexedSeq[String] = IndexedSeq("the", "a", "of", "and", "to", "in")

  /** A corpus of `nBase` documents plus planted near-duplicate clusters.
    *
    * Base documents mix languages (~65% `en`), lengths (10–120 tokens),
    * stopword spam (~10%, which fails the quality gate when short) and
    * the blocklisted token `dup` (~2%), so each gate drops something.
    * `dupShare` of the base documents are also cluster heads that pass
    * every gate; each gets 1–3 copies with two content words replaced,
    * which keeps their word-3-shingle Jaccard well above 0.5 and keeps
    * them inside every gate. Copies take ids above every base id, so the
    * head is the document near-dup removal keeps.
    */
  def documents(seed: Long, nBase: Int, dupShare: Double): IndexedSeq[Doc] = {
    val rnd = new SplittableRandom(seed ^ 0x5eed0d0cL)
    val vocab = vocabulary(rnd, 6000)
    val langs = Seq("en" -> 0.65, "de" -> 0.1, "es" -> 0.1, "fr" -> 0.08, "zh" -> 0.07)
    def words(n: Int, stopShare: Double): Array[String] =
      Array.fill(n)(
        if (rnd.nextDouble() < stopShare) Stopwords(rnd.nextInt(Stopwords.length))
        else vocab(rnd.nextInt(vocab.length)))
    val heads = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val base = (0 until nBase).map { i =>
      if (rnd.nextDouble() < dupShare) {
        val d = Doc(i, words(30 + rnd.nextInt(50), 0.1).mkString(" "), "en", -1)
        heads += d
        d
      } else {
        val spam = rnd.nextDouble() < 0.1
        val toks = words(10 + rnd.nextInt(111), if (spam) 0.7 else 0.1)
        if (rnd.nextDouble() < 0.02) toks(rnd.nextInt(toks.length)) = "dup"
        Doc(i, toks.mkString(" "), pick(rnd, langs), -1)
      }
    }
    var next = nBase.toLong
    val copies = heads.filter(d => passesGate(d.text)).flatMap { head =>
      (0 until 1 + rnd.nextInt(3)).map { _ =>
        val toks = head.text.split(" ")
        var edits = 0
        while (edits < 2) {
          val p = rnd.nextInt(toks.length)
          if (!Stopwords.contains(toks(p))) {
            toks(p) = vocab(rnd.nextInt(vocab.length)); edits += 1
          }
        }
        next += 1
        Doc(next - 1, toks.mkString(" "), "en", head.id)
      }
    }
    base ++ copies
  }

  /** Plain-Scala replica of `CurateMain.gate` (language, token bracket,
    * quality floor, blocklist) used to predict the gated count.
    */
  def passesGate(text: String): Boolean = {
    val toks = text.split(" ", -1)
    val n = toks.length
    val sw = toks.count(t => Stopwords.contains(t)).toDouble / n
    val quality = BigDecimal(math.min(n / 50.0, 1.0) * (1.0 - math.abs(sw - 0.1)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    n >= graft.CurateMain.MinTokens && n <= graft.CurateMain.MaxTokens &&
      quality >= graft.CurateMain.MinQuality &&
      !toks.exists(t => graft.CurateMain.BlockTerms.contains(t))
  }

  private def vocabulary(rnd: SplittableRandom, n: Int): IndexedSeq[String] = {
    val syll = for (c <- "bcdfghklmnprstvz"; v <- "aeiou") yield s"$c$v"
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val w = (0 until 2 + rnd.nextInt(3)).map(_ => syll(rnd.nextInt(syll.length))).mkString
      if (!Stopwords.contains(w) && w != "dup") out += w
    }
    out.toIndexedSeq
  }
}
