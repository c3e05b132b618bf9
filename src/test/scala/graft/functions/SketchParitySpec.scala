package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the codegen'd sketch kernels ([[Sketches]]) to the legacy
 * higher-order-function SQL expressions they replaced. The legacy
 * expressions are restated here IN FULL — they are the semantic
 * contract (bit-identical to the DuckDB oracles), so the kernels are
 * verified against an independent restatement, not against themselves.
 * Runs over real fixture documents/embeddings plus adversarial literals
 * (empty arrays, null elements, length mismatches).
 */
class SketchParitySpec extends AnyFunSuite {

  private lazy val s = SparkTestSession.spark
  private val dir = SparkTestSession.sfDir

  private val tokensExpr = "filter(split(text, ' '), t -> t != '')"

  private val shingleExpr =
    s"""array_distinct(transform(array($tokensExpr), ts ->
       |  CASE WHEN size(ts) >= 3 THEN
       |    transform(sequence(1, size(ts) - 2),
       |      i -> concat_ws(' ', element_at(ts, i), element_at(ts, i + 1),
       |                     element_at(ts, i + 2)))
       |  ELSE cast(array() as array<string>) END)[0])""".stripMargin

  test("minhash_lsh_bands matches the legacy 64-perm HOF expression") {
    val coefArr = (0 until 64)
      .map(i => s"${1L + (VectorLsh.md5Long15(s"a:$i") % 2147483646L)}L")
      .mkString("array(", ",", ")")
    val hsExpr =
      "transform(ws, w -> pmod(cast(conv(substring(md5(w), 1, 15), 16, 10)" +
        " as bigint), 2147483647L))"
    val legacy =
      s"""transform(array(transform(array($hsExpr), hs ->
         |  transform(sequence(0, 63), s ->
         |    array_min(transform(hs, h ->
         |      pmod(element_at($coefArr, s + 1) * h + s, 2147483647L)))))[0]), sig ->
         |  transform(sequence(0, 15), b ->
         |    md5(concat_ws(',', transform(slice(sig, b * 4 + 1, 4),
         |                                 x -> cast(x as string))))))[0]""".stripMargin
    val mismatches = graft.sources.Records.table(s, dir, "documents")
      .withColumn("ws", expr(shingleExpr))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"),
        expr("minhash_lsh_bands(ws)").as("kernel"), expr(legacy).as("hof"))
      .filter(col("kernel") =!= col("hof"))
      .count()
    assert(mismatches === 0)
  }

  test("simhash16 matches the legacy majority-vote HOF expression") {
    val hsExpr = s"transform(array_distinct($tokensExpr), w -> " +
      "cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint))"
    val legacy =
      s"""transform(array($hsExpr), hs ->
         |  aggregate(sequence(0, 15), 0L, (acc, b) ->
         |    acc + CASE WHEN aggregate(hs, 0L, (a, h) ->
         |        a + CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1L ELSE -1L END) > 0
         |      THEN shiftleft(cast(1 as bigint), b) ELSE 0L END))[0]""".stripMargin
    val mismatches = graft.sources.Records.table(s, dir, "documents")
      .filter(expr(s"size($tokensExpr) > 0"))
      .select(
        expr(s"simhash16(array_distinct($tokensExpr))").as("kernel"),
        expr(legacy).cast("long").as("hof"))
      .filter(col("kernel") =!= col("hof"))
      .count()
    assert(mismatches === 0)
  }

  test("word_ngrams matches the legacy tokenize→window→distinct chain") {
    val legacy3 = shingleExpr
    val legacy1 = s"array_distinct($tokensExpr)"
    val legacy2 =
      s"""array_distinct(transform(array($tokensExpr), ts ->
         |  CASE WHEN size(ts) >= 2 THEN
         |    transform(sequence(1, size(ts) - 1),
         |      i -> concat_ws(' ', element_at(ts, i), element_at(ts, i + 1)))
         |  ELSE cast(array() as array<string>) END)[0])""".stripMargin
    val mismatches = graft.sources.Records.table(s, dir, "documents")
      .select(
        expr("word_ngrams(text, 1)").as("k1"), expr(legacy1).as("h1"),
        expr("word_ngrams(text, 2)").as("k2"), expr(legacy2).as("h2"),
        expr("word_ngrams(text, 3)").as("k3"), expr(legacy3).as("h3"))
      .filter(col("k1") =!= col("h1") || col("k2") =!= col("h2") ||
        col("k3") =!= col("h3"))
      .count()
    assert(mismatches === 0)
  }

  test("word_ngrams edge cases: empties, repeated spaces, short docs") {
    val r = s.sql(
      """SELECT word_ngrams('', 1) AS a, word_ngrams('  ', 2) AS b,
        |       word_ngrams('one two', 3) AS c,
        |       word_ngrams('x  y   x  y', 2) AS d""".stripMargin)
      .collect().head
    assert(r.getSeq[String](0) === Seq())
    assert(r.getSeq[String](1) === Seq())
    assert(r.getSeq[String](2) === Seq())
    assert(r.getSeq[String](3) === Seq("x y", "y x"))
  }

  /** The legacy decontamination gram hash: every `word_ngrams` element,
    * in order and with multiplicity, through the per-gram md5 → hex
    * substring → base-conversion chain (the DuckDB
    * `('0x'||substr(md5(g),1,15))::BIGINT`). */
  private def legacyGramHashes(n: Int) =
    s"transform(word_ngrams(text, $n), " +
      "g -> cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint))"

  test("ngram_hashes matches md5 → substring → conv over word_ngrams") {
    val docs = graft.sources.Records.table(s, dir, "documents")
    for (n <- Seq(1, 2, 3, 4)) {
      val mismatches = docs
        .select(expr(s"ngram_hashes(text, $n)").as("kernel"),
          expr(legacyGramHashes(n)).as("legacy"))
        .filter(!(col("kernel") <=> col("legacy")))
        .count()
      assert(mismatches === 0, s"n=$n")
    }
    // exploded, row for row: the same (doc, position, hash) multiset
    val viaKernel = docs.select(col("doc_id"),
      posexplode(expr("ngram_hashes(text, 4)")).as(Seq("pos", "gh")))
    val viaLegacy = docs.select(col("doc_id"),
        posexplode(expr("word_ngrams(text, 4)")).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("gh"))
    assert(viaKernel.count() > 0)
    assert(viaKernel.exceptAll(viaLegacy).count() === 0, "extra grams")
    assert(viaLegacy.exceptAll(viaKernel).count() === 0, "missing grams")
  }

  test("ngram_hashes edge cases: empties, repeated spaces, short docs, non-ASCII") {
    import s.implicits._
    val texts = Seq("", "  ", "one two", "x  y   x  y", "a b a b a b",
      " lead and trail ", "tab\tsplit only on spaces here",
      "été café 世界 t été café 世界",
      "😀 emoji 😀 emoji 😀")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (n <- Seq(0, 1, 2, 3, 4)) {
      df.select(col("text"), expr(s"ngram_hashes(text, $n)").as("kernel"),
          expr(legacyGramHashes(n)).as("legacy"))
        .collect().foreach { r =>
          assert(r.getSeq[Long](1) == r.getSeq[Long](2),
            s"n=$n text='${r.getString(0)}'")
        }
    }
    val r = s.sql(
      """SELECT ngram_hashes('', 1) AS a, ngram_hashes('one two', 3) AS b,
        |       ngram_hashes('x  y   x  y', 2) AS c,
        |       ngram_hashes(cast(null as string), 2) AS d""".stripMargin)
      .collect().head
    assert(r.getSeq[Long](0) === Seq())
    assert(r.getSeq[Long](1) === Seq())
    assert(r.getSeq[Long](2) === Seq("x y", "y x").map(VectorLsh.md5Long15))
    assert(r.isNullAt(3))
  }

  test("simhash16 of an empty token array is 0") {
    val r = s.sql("SELECT simhash16(cast(array() as array<string>)) AS v")
      .collect().head.getLong(0)
    assert(r === 0L)
  }

  test("vec_dot matches the legacy aggregate(zip_with) fold on embeddings") {
    val e = graft.sources.Records.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = e.select(col("vec_id").as("ia"), col("v").as("a"))
      .crossJoin(e.select(col("vec_id").as("ib"), col("v").as("b")))
      .filter(col("ia") < col("ib")).limit(2000)
    val legacy =
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    // Exact equality: both folds run the identical fp operation sequence.
    val mismatches = pairs
      .select(expr("vec_dot(a, b)").as("kernel"), expr(legacy).as("hof"))
      .filter(col("kernel") =!= col("hof"))
      .count()
    assert(mismatches === 0)
  }

  test("vec_dot null semantics: length mismatch and null elements") {
    val rows = s.sql(
      """SELECT
        |  vec_dot(array(1.0D, 2.0D), array(3.0D)) AS mismatch,
        |  vec_dot(array(1.0D, cast(null as double)), array(3.0D, 4.0D)) AS withNull,
        |  vec_dot(cast(null as array<double>), array(3.0D)) AS nullArr,
        |  vec_dot(cast(array() as array<double>), cast(array() as array<double>)) AS empty
        |""".stripMargin).collect().head
    assert(rows.isNullAt(0) && rows.isNullAt(1) && rows.isNullAt(2))
    assert(rows.getDouble(3) === 0.0)
  }

  test("minhash_lsh_bands of an empty array is null; band count is 16") {
    val r = s.sql(
      """SELECT minhash_lsh_bands(cast(array() as array<string>)) AS e,
        |       size(minhash_lsh_bands(array('a b c'))) AS n""".stripMargin)
      .collect().head
    assert(r.isNullAt(0))
    assert(r.getInt(1) === 16)
  }

  test("repetition_stats matches the relational counters on fixture docs") {
    // independent restatement: counters from explode + groupBy over the
    // same single-space tokenization
    val toks = graft.sources.Records.table(s, dir, "documents")
      .select(col("doc_id"), expr(tokensExpr).as("ts"))
    val base = toks.select(col("doc_id"),
      size(col("ts")).cast("long").as("n_tokens"),
      size(array_distinct(col("ts"))).cast("long").as("n_dis"),
      greatest(size(col("ts")) - 1, lit(0)).cast("long").as("n_bi"),
      greatest(size(col("ts")) - 2, lit(0)).cast("long").as("n_tri"),
      expr("""CASE WHEN size(ts) >= 3 THEN size(array_distinct(
        transform(sequence(1, size(ts) - 2), i -> concat_ws(' ',
          element_at(ts, i), element_at(ts, i + 1), element_at(ts, i + 2)))))
        ELSE 0 END""").cast("long").as("n_tri_dis"))
    val topBi = toks.filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ts) - 1),
          |  i -> concat_ws(' ', element_at(ts, i), element_at(ts, i + 1)))"""
          .stripMargin)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bi"))
    val expected = base.join(topBi, Seq("doc_id"), "left")
      .select(col("doc_id"), array(col("n_tokens"), col("n_dis"),
        col("n_bi"), coalesce(col("top_bi"), lit(0L)),
        col("n_tri"), col("n_tri_dis")).as("rel"))
    val mismatches = graft.sources.Records.table(s, dir, "documents")
      .select(col("doc_id"), expr("repetition_stats(text)").as("kernel"))
      .join(expected, "doc_id")
      .filter(col("kernel") =!= col("rel"))
      .count()
    assert(mismatches === 0)
  }

  test("repetition_stats edge cases: empty, single token, all-same tokens") {
    val r = s.sql(
      """SELECT repetition_stats('') AS a, repetition_stats('one') AS b,
        |       repetition_stats('x x x x') AS c""".stripMargin)
      .collect().head
    assert(r.getSeq[Long](0) === Seq(0L, 0L, 0L, 0L, 0L, 0L))
    assert(r.getSeq[Long](1) === Seq(1L, 1L, 0L, 0L, 0L, 0L))
    // 4 tokens, 1 distinct; 3 bigrams all "x x"; 2 trigrams, 1 distinct
    assert(r.getSeq[Long](2) === Seq(4L, 1L, 3L, 3L, 2L, 1L))
  }

  test("bloom_contains: no false negatives over the eval gram set") {
    import org.apache.spark.sql.functions.{call_function => cf}
    val grams = graft.sources.Records.table(s, dir, "documents")
      .select(explode(expr("word_ngrams(text, 4)")).as("g"))
      .select(expr("cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)")
        .as("gh")).distinct()
    val bf = grams.stat.bloomFilter("gh", math.max(grams.count(), 1L), 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    // a Bloom filter may false-positive but must never false-negative
    val misses = grams.filter(!cf("bloom_contains", lit(bytes), col("gh"))).count()
    assert(misses === 0)
  }

  test("array_except_sorted matches the legacy filter(array_contains) form") {
    // the d15 segmentation: fixed 3-token passages, probed against the
    // corpus-wide sort_array'd boilerplate set (df >= 5)
    val seg = graft.sources.Records.table(s, dir, "documents")
      .withColumn("ts", expr(tokensExpr))
      .filter(size(col("ts")) > 0)
      .withColumn("chunks",
        expr("transform(sequence(0, cast(ceil(size(ts) / 3.0) as int) - 1)," +
          " p -> array_join(slice(ts, p*3 + 1, 3), ' '))"))
    val boiler = seg
      .select(col("doc_id"), explode(col("chunks")).as("chunk"))
      .distinct()
      .groupBy("chunk").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 5)
      .agg(sort_array(collect_list("chunk")).as("boiler"))
    val probed = seg.crossJoin(broadcast(boiler))
    assert(probed.filter(expr("size(filter(boiler, b -> b IS NOT NULL)) > 0"))
      .count() > 0, "fixture must actually exercise a non-empty boiler set")
    val mismatches = probed
      .select(expr("array_except_sorted(chunks, boiler)").as("kernel"),
        expr("filter(chunks, c -> NOT array_contains(boiler, c))").as("hof"))
      .filter(col("kernel") =!= col("hof"))
      .count()
    assert(mismatches === 0)
  }

  test("array_except_sorted edges: order/dupes kept, empties, null items") {
    val r = s.sql(
      """SELECT
        |  array_except_sorted(array('c','a','b','a','c'),
        |                      array('b','c')) AS dupes,
        |  array_except_sorted(array('x','y'),
        |                      cast(array() as array<string>)) AS emptySet,
        |  array_except_sorted(cast(array() as array<string>),
        |                      array('a')) AS emptyItems,
        |  array_except_sorted(array('a', cast(null as string), 'z'),
        |                      array('a')) AS nullItem,
        |  array_except_sorted(cast(null as array<string>),
        |                      array('a')) AS nullLeft
        |""".stripMargin).collect().head
    // survivors keep original order AND duplicates; only the sorted-set
    // members are removed
    assert(r.getSeq[String](0) === Seq("a", "a"))
    assert(r.getSeq[String](1) === Seq("x", "y"))
    assert(r.getSeq[String](2) === Seq())
    assert(r.getSeq[String](3) === Seq(null, "z"))
    assert(r.isNullAt(4))
  }

  test("bloom_contains null semantics") {
    import org.apache.spark.sql.functions.{call_function => cf}
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    bf.putLong(42L)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val r = s.range(1)
      .select(cf("bloom_contains", lit(bytes), lit(42L)).as("hit"),
        cf("bloom_contains", lit(bytes),
          lit(null).cast("long")).as("nullVal"),
        cf("bloom_contains", lit(null).cast("binary"), lit(42L)).as("nullBf"))
      .collect().head
    assert(r.getBoolean(0))
    assert(r.isNullAt(1))
    assert(r.isNullAt(2))
  }

  test("span_hashes matches the legacy transform/slice/md5 expression") {
    // the legacy form IS the semantic contract (and the d16 DuckDB
    // oracle's arithmetic): md5 of each n-token window joined by ' ',
    // gated to 60-bit hash % mod == 0
    def legacy(n: Int, mod: Long) =
      s"""filter(transform(array($tokensExpr), ts ->
         |  CASE WHEN size(ts) >= $n THEN
         |    transform(sequence(0, size(ts) - $n),
         |      i -> md5(concat_ws(' ', slice(ts, i + 1, $n))))
         |  ELSE cast(array() as array<string>) END)[0],
         |  h -> pmod(cast(conv(substring(h, 1, 15), 16, 10) as bigint),
         |            ${mod}L) = 0)""".stripMargin
    for ((n, mod) <- Seq((8, 4L), (3, 1L), (2, 7L))) {
      val mismatches = graft.sources.Records.table(s, dir, "documents")
        .select(col("doc_id"),
          expr(s"span_hashes(text, $n, ${mod}L)").as("kernel"),
          expr(legacy(n, mod)).as("hof"))
        .filter(col("kernel") =!= col("hof"))
        .count()
      assert(mismatches === 0, s"n=$n mod=$mod")
    }
    // unicode tokens: multi-byte UTF-8 goes through the shared buffer
    import s.implicits._
    val uni = Seq((1L, "\u00e9t\u00e9 caf\u00e9 \u4e16\u754c t \u00e9t\u00e9 caf\u00e9"))
      .toDF("doc_id", "text")
    val row = uni.select(
      expr("span_hashes(text, 2, 1L)").as("kernel"),
      expr(legacy(2, 1L)).as("hof")).collect()(0)
    assert(row.getSeq[String](0) == row.getSeq[String](1))
    // n < 1 from direct SQL degrades to an empty array — never an
    // executor ArrayIndexOutOfBoundsException (m = nTok - n + 1 would
    // be positive while the window end indexes out of bounds)
    for (n <- Seq(0, -1)) {
      val bad = s.sql(s"SELECT span_hashes('a b c', $n, 1L) AS h")
        .collect()(0)
      assert(bad.getSeq[String](0).isEmpty, s"n=$n")
    }
  }

  test("span_hashes_pos carries REAL token positions through the gate") {
    // at mod = 1 the struct positions must equal the posexplode index
    // over span_hashes (every window survives); at mod > 1 the pairs
    // must be exactly the mod-1 pairs whose hash passes the digest
    // gate — i.e. positions are preserved where a gated span_hashes
    // posexplode index would have collapsed them
    val docs = graft.sources.Records.table(s, dir, "documents")
    for (n <- Seq(8, 3)) {
      val viaPos = docs.select(col("doc_id"),
          explode(expr(s"span_hashes_pos(text, $n, 1L)")).as("w"))
        .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))
      val viaPlain = docs.select(col("doc_id"),
          posexplode(expr(s"span_hashes(text, $n, 1L)")).as(Seq("pos", "h")))
      assert(viaPos.exceptAll(viaPlain).count() === 0, s"n=$n extra")
      assert(viaPlain.exceptAll(viaPos).count() === 0, s"n=$n missing")
      val gated = docs.select(col("doc_id"),
          explode(expr(s"span_hashes_pos(text, $n, 4L)")).as("w"))
        .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))
      val reference = viaPos.filter(
        expr("pmod(cast(conv(substring(h, 1, 15), 16, 10) as bigint), 4L) = 0"))
      assert(gated.exceptAll(reference).count() === 0, s"n=$n gated extra")
      assert(reference.exceptAll(gated).count() === 0, s"n=$n gated missing")
    }
    // n < 1 degrades to empty like span_hashes
    val bad = s.sql("SELECT span_hashes_pos('a b c', 0, 1L) AS h").collect()(0)
    assert(bad.getSeq[AnyRef](0).isEmpty)
  }
}
