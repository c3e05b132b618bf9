package perfbench

import java.util.SplittableRandom

/** Seeded input generators. The program under test only ever sees what
  * these write: a document corpus (parquet) and a record stream (topic
  * log appends). The corpus follows `graft.GenData.documents`' shape —
  * dense doc ids, 10–100 tokens drawn from the 31 core words plus a
  * Heaps-law tail, five languages, twenty sources, exact copies and
  * near copies (previous doc plus a three-token tail) — and adds the
  * duplicates the curation and span stages need to have work:
  *  - short (one or two token) docs with exact copies, which have no
  *    word 3-gram shingles and so reach `exactDedup` past the near-dup
  *    stage;
  *  - boilerplate passages shared by many docs, which make repeated
  *    spans for the span census and shared 4-grams for decontamination.
  */
object Gen {

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  private val Core = Array(
    "the", "query", "row", "stream", "line", "small", "group", "spark",
    "fast", "customer", "batch", "data", "sort", "value", "hash", "filter",
    "big", "dup", "column", "order", "a", "vector", "part", "scan", "slow",
    "agg", "key", "window", "table", "merge", "join")

  private def word(rank: Int): String =
    if (rank < Core.length) Core(rank) else s"w$rank"

  def corpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rnd = new SplittableRandom(seed)
    val vocab = math.max(Core.length, math.round(Core.length * math.sqrt(n / 5000.0)).toInt)
    def words(k: Int): Seq[String] = Seq.fill(k)(word(rnd.nextInt(vocab)))
    val passages = IndexedSeq.fill(48)(words(12 + rnd.nextInt(9)).mkString(" "))
    val texts = new Array[String](n)
    var i = 0
    while (i < n) {
      val u = rnd.nextDouble()
      texts(i) =
        if (i > 0 && u < 0.004) texts(i - 1)                       // exact copy
        else if (i > 0 && u < 0.012) texts(i - 1) + " near dup tail" // near copy
        else if (u < 0.02) words(1 + rnd.nextInt(2)).mkString(" ")   // short doc
        else if (i > 0 && u < 0.024 && !texts(i - 1).contains(' ')) texts(i - 1)
        else {
          val body = words(10 + rnd.nextInt(91))
          if (u < 0.12) {
            val at = rnd.nextInt(body.size + 1)
            (body.take(at) :+ passages(rnd.nextInt(passages.size)))
              .++(body.drop(at)).mkString(" ")
          } else body.mkString(" ")
        }
      i += 1
    }
    texts.indices.map { j =>
      val lu = rnd.nextDouble()
      val lang = if (lu < 0.41) "en" else if (lu < 0.5575) "zh"
        else if (lu < 0.705) "es" else if (lu < 0.8525) "fr" else "de"
      Doc(j.toLong, texts(j), lang, s"src${rnd.nextInt(20)}",
        texts(j).length.toLong)
    }
  }

  /** The topic layout of the replicate workload: (topic, partitions).
    * `click`/`view`/`purchase` are replicated; `audit` is outside the
    * route's topic list and `__meta` matches its excluded-topic regex, so
    * both must be filtered out. */
  val Topics: Seq[(String, Int)] = Seq(
    "click" -> 96, "view" -> 64, "purchase" -> 64, "audit" -> 32, "__meta" -> 32)

  /** Every topic-partition, indexed: the index is the high part of a
    * record id, `rid = tp << 40 | offset`. */
  val Tps: IndexedSeq[(String, Int)] =
    Topics.flatMap { case (t, n) => (0 until n).map(t -> _) }.toIndexedSeq

  def rid(tp: Int, offset: Long): Long = (tp.toLong << 40) | offset

  /** Record payloads, each a pure function of (seed, topic-partition,
    * offset): a key, a 64–191 byte value (null for 2% of records, which
    * the pipeline drops) and the record id header. */
  final class Records(seed: Long) {
    def record(tp: Int, offset: Long, tsMillis: Long): graft.sources.FileTopicLog.LogRecord = {
      val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + rid(tp, offset))
      val key = new Array[Byte](8 + rnd.nextInt(9))
      rnd.nextBytes(key)
      val value =
        if (rnd.nextInt(50) == 0) null
        else { val v = new Array[Byte](64 + rnd.nextInt(128)); rnd.nextBytes(v); v }
      val id = java.nio.ByteBuffer.allocate(8).putLong(rid(tp, offset)).array()
      graft.sources.FileTopicLog.LogRecord(key, value, tsMillis,
        headers = Seq("rid" -> id))
    }
    /** The topic-partition of the `i`-th record of a stream: runs of
      * `run` consecutive records share one. */
    def tpOf(i: Long, run: Int): Int =
      Math.floorMod(new SplittableRandom(seed ^ (i / run) * 0xBF58476D1CE4E5B9L).nextLong(), Tps.size.toLong).toInt
  }
}
