package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress fixture generator: synthesizes `documents`, `embeddings`
  * and `events` tables with the SAME schema and distribution shape as the
  * driver fixtures (TESTDATA.md), at an arbitrary multiple of sf0.1 —
  * used to measure how the dedup/ANN/streaming plans scale beyond the
  * largest driver-provided sf, never for the correctness gate (that
  * always runs on driver data).
  *
  * Everything is derived from `spark.range` + `xxhash64`, so generation
  * is deterministic, shuffle-free and runs distributed — the generator
  * itself is a 100-TB-shaped pipeline (no driver-side RNG, no collect).
  *
  * Distribution shape matched from sf0.1 (measured):
  *  - documents: 5 000·m rows, 10–100 tokens from a 31-word vocab,
  *    lang en≈41% / zh,es,fr,de≈15% each, 20 sources,
  *    ~0.16% exact-dup pairs, ~0.5% planted near-dup pairs (3-token tail)
  *  - embeddings: 2 000·m rows, 64-dim unit-normalized, labels 0–9,
  *    ~1% planted near-dup pairs (tiny perturbation before normalize)
  *  - events: 100 000·m rows over 30 days, 1 500·m users, 5 event types
  *
  * Usage: `runMain graft.GenData <outDir> <multiplier>`
  */
object GenData {

  private val Vocab = Seq(
    "the", "query", "row", "stream", "line", "small", "group", "spark",
    "fast", "customer", "batch", "data", "sort", "value", "hash", "filter",
    "big", "dup", "column", "order", "a", "vector", "part", "scan", "slow",
    "agg", "key", "window", "table", "merge", "join")

  /** uniform [0,1) from arbitrary int/long columns, fully codegen'd */
  private def u(cols: String*): String =
    s"(pmod(xxhash64(${cols.mkString(", ")}), 1000000007L) / 1000000007.0D)"

  /** Zipf(s≈1) rank in [0, n) from a uniform [0,1): the inverse-CDF
    * `n^u − 1` mapping (CDF of Zipf-1 is ≈ ln r / ln n), so rank r
    * carries mass ∝ 1/r and rank 0 alone holds ~1/ln(n) of ALL rows —
    * the adversarial hot key the skew bench needs. Deterministic,
    * codegen'd, no shuffle. */
  private def zipfRank(uExpr: String, n: Long): String =
    s"least(cast(pow(cast($n as double), $uExpr) as long) - 1L, ${n - 1}L)"

  /** `zipf = true` replaces the uniform token / source / user draws with
    * Zipf-1 ranks (hot token "the", hot source src0, hot user 0) while
    * keeping every schema, row count, and plant rate identical — the
    * adversarial-skew fixture for j1/e1/e5/p6/x11.
    *
    * The vocabulary follows Heaps' law, anchored at the driver fixture
    * (31 words at 5 000 docs = sf0.1): `V(n) = 31·sqrt(n/5000)`. A
    * FIXED 31-word vocab saturates the 3-gram shingle space (~30k
    * distinct shingles) at high multipliers, so at 1.5M docs MinHash
    * band buckets collide on identical keys and candidate generation
    * grows quadratically in bucket size — a fixture artifact that
    * masked the sub-linearity the scale harness exists to measure
    * (VERDICT r12 #5). Real corpora keep the shingle space growing
    * with corpus size (Heaps), which keeps LSH buckets selective.
    * Ranks below 31 stay the core words (so m <= 1 output is
    * byte-identical to the driver distribution); higher ranks render
    * as synthetic tokens `w<rank>`. */
  def documents(spark: SparkSession, rows: Long,
      zipf: Boolean = false): DataFrame = {
    val vocabArr = Vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    val vocabSize: Long =
      math.max(Vocab.size.toLong,
        math.round(Vocab.size * math.sqrt(rows / 5000.0)))
    spark.range(rows).toDF("doc_id")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      // exact dups copy the previous doc's text verbatim; near dups copy
      // it and append a 3-token tail (high 3-gram Jaccard, not identical)
      .withColumn("is_exact", pmod(col("doc_id"), lit(625)) === 624)
      .withColumn("is_near",
        pmod(col("doc_id"), lit(200)) === 199 && !col("is_exact"))
      .withColumn("tseed",
        when(col("is_exact") || col("is_near"), col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("n_tok",
        expr(s"10 + pmod(xxhash64(tseed, 1L), 91)").cast("int"))
      .withColumn("base_text", expr {
        // rank draw per token position, then rank -> word: core words
        // for ranks < 31, synthetic `w<rank>` tokens for the Heaps tail
        val rank =
          if (zipf) s"int(${zipfRank(u("tseed", "cast(i as long)", "2L"), vocabSize)})"
          else s"int(pmod(xxhash64(tseed, cast(i as long), 2L), ${vocabSize}L))"
        s"array_join(transform(transform(sequence(1, n_tok), i -> $rank), " +
          s"t -> case when t < ${Vocab.size} then element_at($vocabArr, t + 1) " +
          s"else concat('w', t) end), ' ')"
      })
      .withColumn("text",
        when(col("is_near"), concat(col("base_text"), lit(" near dup tail")))
          .otherwise(col("base_text")))
      .withColumn("lu", expr(u("doc_id", "5L")))
      .withColumn("lang",
        when(col("lu") < 0.41, "en").when(col("lu") < 0.5575, "zh")
          .when(col("lu") < 0.705, "es").when(col("lu") < 0.8525, "fr")
          .otherwise("de"))
      .withColumn("source",
        concat(lit("src"), expr(
          if (zipf) zipfRank(u("doc_id", "7L"), 20)
          else "pmod(xxhash64(doc_id, 7L), 20)")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  def embeddings(spark: SparkSession, rows: Long): DataFrame = {
    spark.range(rows).toDF("vec_id")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .withColumn("is_near", pmod(col("vec_id"), lit(100)) === 99)
      .withColumn("vseed",
        when(col("is_near"), col("vec_id") - 1).otherwise(col("vec_id")))
      // raw uniform(-1,1) components; near dups perturb component 0 a
      // little BEFORE normalization so cosine stays ~0.999. The raw
      // array is let-bound through a lambda variable (transform-over-
      // array trick) so CollapseProject cannot inline the 64-hash
      // expression once per reference.
      .withColumn("embedding", expr(
        "transform(array(transform(sequence(0, 63), " +
          s"j -> ${u("vseed * 64 + cast(j as long)", "13L")} * 2.0D - 1.0D)), " +
          "raw0 -> transform(array(" +
          "  CASE WHEN is_near THEN concat(array(raw0[0] + 0.05D), slice(raw0, 2, 63)) " +
          "       ELSE raw0 END), " +
          "raw -> transform(raw, " +
          "  x -> cast(x / sqrt(aggregate(raw, 0.0D, (acc, y) -> acc + y * y)) as float)))[0])[0]"))
      .withColumn("label", expr("int(pmod(xxhash64(vec_id, 11L), 10))"))
      .select("vec_id", "embedding", "label")
  }

  /** `spanScale` stretches the 30-day window (default 1): the driver
    * fixture and every m-multiplied twin pack m× the events into the
    * SAME span, so temporal density — and the true output of
    * density-quadratic queries like j2's within-60s pair join — grows
    * with m. A real corpus grows by TIME at roughly fixed density;
    * `spanScale = m` generates that production shape (same rows, same
    * keys, m× the span) for density-sensitive scale evidence. */
  def events(spark: SparkSession, rows: Long, users: Long,
      zipf: Boolean = false, hotShare: Double = 0.0,
      spanScale: Double = 1.0): DataFrame = {
    val startUs = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val spanUs = (30L * 24 * 3600 * 1000000L * spanScale).toLong
    spark.range(rows).toDF("event_id")
      .repartition(spark.sparkContext.defaultParallelism, col("event_id"))
      .withColumn("ts", expr(
        s"timestamp_micros($startUs + cast(${u("event_id", "3L")} * $spanUs as long))"))
      .withColumn("user_id", expr {
        val base =
          if (zipf) zipfRank(u("event_id", "17L"), users)
          else s"pmod(xxhash64(event_id, 17L), $users)"
        // hotShare > 0: that fraction of ALL rows lands on user 0 — the
        // single-key-bigger-than-a-task case the b-variants are for
        if (hotShare > 0.0)
          s"if(${u("event_id", "31L")} < $hotShare, 0L, $base)"
        else base
      })
      .withColumn("event_type", expr(
        "element_at(array('click','view','purchase','signup','error'), " +
          "int(pmod(xxhash64(event_id, 19L), 5)) + 1)"))
      .withColumn("value", expr(s"${u("event_id", "23L")} * 100.0D"))
      .withColumn("props", expr(
        "concat('{\"k\": ', pmod(xxhash64(event_id, 29L), 100), '}')"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  // ---- relational star schema (q-family scale evidence) -------------
  // Distribution-matched to the sf0.1 driver fixture (measured): row
  // counts scale linearly with the multiplier, key spaces stay
  // referentially closed (custkey/partkey/suppkey hashes land inside
  // the scaled dimension tables), value ranges mirror the originals.
  // Ship/order dates are INDEPENDENT uniforms over the same span, as in
  // the fixture. Used only for scale benching — correctness always runs
  // on driver data.

  def nation(spark: SparkSession): DataFrame =
    spark.range(25).toDF("n_nationkey")
      .withColumn("n_name", concat(lit("NATION_"), col("n_nationkey")))
      .withColumn("n_regionkey", expr("int(pmod(n_nationkey, 5))"))
      .select(expr("int(n_nationkey)").as("n_nationkey"), col("n_name"),
        col("n_regionkey"))

  def region(spark: SparkSession): DataFrame =
    spark.range(5).toDF("r_regionkey")
      .withColumn("r_name", concat(lit("REGION_"), col("r_regionkey")))
      .select(expr("int(r_regionkey)").as("r_regionkey"), col("r_name"))

  def supplier(spark: SparkSession, rows: Long): DataFrame =
    spark.range(rows).toDF("s_suppkey")
      .withColumn("s_name", expr("concat('Supplier#', lpad(s_suppkey, 9, '0'))"))
      .withColumn("s_nationkey", expr("int(pmod(xxhash64(s_suppkey, 31L), 25))"))
      .withColumn("s_acctbal",
        expr(s"round(${u("s_suppkey", "37L")} * 11000.0D - 1000.0D, 2)"))
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")

  def customer(spark: SparkSession, rows: Long): DataFrame =
    spark.range(rows).toDF("c_custkey")
      .withColumn("c_name", expr("concat('Customer#', lpad(c_custkey, 9, '0'))"))
      .withColumn("c_nationkey", expr("int(pmod(xxhash64(c_custkey, 41L), 25))"))
      .withColumn("c_acctbal",
        expr(s"round(${u("c_custkey", "43L")} * 11000.0D - 1000.0D, 2)"))
      .withColumn("c_mktsegment", expr(
        "element_at(array('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD'," +
          "'MACHINERY'), int(pmod(xxhash64(c_custkey, 47L), 5)) + 1)"))
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

  def part(spark: SparkSession, rows: Long): DataFrame =
    spark.range(rows).toDF("p_partkey")
      .withColumn("p_name", expr(
        "concat(element_at(array('large','hot','blue','dark','small','shiny'," +
          "'plain','round'), int(pmod(xxhash64(p_partkey, 53L), 8)) + 1), ' ', " +
          "element_at(array('ring','bolt','screw','washer','nut','plate'," +
          "'wheel','rod'), int(pmod(xxhash64(p_partkey, 59L), 8)) + 1))"))
      .withColumn("p_brand",
        expr("concat('Brand#', pmod(xxhash64(p_partkey, 61L), 25) + 1)"))
      .withColumn("p_type", expr(
        "element_at(array('LARGE','ECONOMY','SMALL','STANDARD','PROMO'," +
          "'MEDIUM'), int(pmod(xxhash64(p_partkey, 67L), 6)) + 1)"))
      .withColumn("p_size", expr("int(pmod(xxhash64(p_partkey, 71L), 50)) + 1"))
      .withColumn("p_retailprice", expr("round(900.0D + p_partkey * 0.1D, 2)"))
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")

  private val OrderStartMs = java.time.Instant.parse("1995-01-01T00:00:00Z")
    .getEpochSecond * 1000L
  private val OrderSpanMs = java.time.Instant.parse("2001-08-01T00:00:00Z")
    .getEpochSecond * 1000L - OrderStartMs

  def orders(spark: SparkSession, rows: Long, customers: Long): DataFrame =
    spark.range(rows).toDF("o_orderkey")
      .repartition(spark.sparkContext.defaultParallelism, col("o_orderkey"))
      .withColumn("o_custkey", expr(s"pmod(xxhash64(o_orderkey, 73L), $customers)"))
      .withColumn("o_orderstatus", expr(
        "element_at(array('O','P','F'), int(pmod(xxhash64(o_orderkey, 79L), 3)) + 1)"))
      .withColumn("o_totalprice",
        expr(s"round(1000.0D + ${u("o_orderkey", "83L")} * 499000.0D, 2)"))
      .withColumn("o_orderdate", expr(
        s"timestamp_millis($OrderStartMs + cast(${u("o_orderkey", "89L")} " +
          s"* $OrderSpanMs as long))"))
      .withColumn("o_orderpriority", expr(
        "element_at(array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED'," +
          "'5-LOW'), int(pmod(xxhash64(o_orderkey, 97L), 5)) + 1)"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")

  /** `hotOrderShare`/`hotPartShare` > 0: that fraction of ALL lineitem
    * rows lands on l_orderkey 0 / l_partkey 0 (independent draws) — the
    * single-key-bigger-than-a-task case for the orderkey/partkey
    * shuffles in q3/q12/q17/q18/q21 (a mega-order / mega-popular part
    * at 100 TB). Dimension rows 0 exist, so referential closure holds. */
  def lineitem(spark: SparkSession, rows: Long, parts: Long,
      suppliers: Long, hotOrderShare: Double = 0.0,
      hotPartShare: Double = 0.0): DataFrame =
    spark.range(rows).toDF("id")
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .withColumn("l_orderkey", expr(
        if (hotOrderShare > 0.0)
          s"if(${u("id", "149L")} < $hotOrderShare, 0L, id div 4)"
        else "id div 4"))
      .withColumn("l_linenumber", expr("int(pmod(id, 4)) + 1"))
      .withColumn("l_partkey", expr {
        val base = s"pmod(xxhash64(id, 101L), $parts)"
        if (hotPartShare > 0.0)
          s"if(${u("id", "151L")} < $hotPartShare, 0L, $base)"
        else base
      })
      .withColumn("l_suppkey", expr(s"pmod(xxhash64(id, 103L), $suppliers)"))
      .withColumn("l_quantity",
        expr("cast(int(pmod(xxhash64(id, 107L), 50)) + 1 as double)"))
      .withColumn("l_extendedprice",
        expr(s"round(900.0D + ${u("id", "109L")} * 104100.0D, 2)"))
      .withColumn("l_discount",
        expr("cast(int(pmod(xxhash64(id, 113L), 11)) as double) / 100.0D"))
      .withColumn("l_tax",
        expr("cast(int(pmod(xxhash64(id, 127L), 9)) as double) / 100.0D"))
      .withColumn("l_returnflag", expr(
        "element_at(array('R','A','N'), int(pmod(xxhash64(id, 131L), 3)) + 1)"))
      .withColumn("l_linestatus", expr(
        "element_at(array('O','F'), int(pmod(xxhash64(id, 137L), 2)) + 1)"))
      .withColumn("l_shipdate", expr(
        s"timestamp_millis($OrderStartMs + cast(${u("id", "139L")} " +
          s"* $OrderSpanMs as long))"))
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("target/sf1")
    val mult = args.lift(1).map(_.toLong).getOrElse(10L)
    val zipf = args.lift(2).contains("zipf")
    val hot = args.lift(2).contains("hot")
    val spark = Sessions.local("graft-gendata",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    // one parquet FILE per table (the driver fixtures' layout — the
    // pathGlobFilter streaming entries expect <dir>/<table>.parquet),
    // but with row groups sized so a scan still parallelizes.
    // repartition(1) (NOT coalesce, which would collapse the generating
    // stage itself to one task) + a sort keeps the file deterministic.
    def writeOne(df: DataFrame, name: String, key: String): Unit = {
      BenchFixtures.writeSingleFile(
        df.repartition(1).sortWithinPartitions(key), outDir, name,
        Map("parquet.block.size" -> (8L * 1024 * 1024).toString))
      println(s"[gendata] wrote $outDir/$name.parquet")
    }
    if (hot) {
      // events-only fixture: one user owns 50% of all rows (beyond any
      // task's width) — the adversarial case for the keyed-window
      // b-variants; other tables are unaffected by user skew
      writeOne(events(spark, 100000L * mult, 1500L * mult, zipf = false,
        hotShare = 0.5), "events", "event_id")
      spark.stop()
      return
    }
    if (args.lift(2).contains("span")) {
      // events-only, density-matched: m× the events over m× the time
      // span (fixed events/day — how a real corpus grows). The fixture
      // for showing that "quadratic at m×" findings on the packed
      // default fixture (j2's within-60s pair join) are density
      // artifacts: at fixed density the pair count, and the join, stay
      // linear in m.
      writeOne(events(spark, 100000L * mult, 1500L * mult, zipf = false,
        spanScale = mult.toDouble), "events", "event_id")
      spark.stop()
      return
    }
    if (args.lift(2).contains("hotrel")) {
      // relational-only skew fixture: one order and one part each own
      // 25% of all lineitem rows (~8 task-widths at 32 partitions) —
      // stresses the l_orderkey joins/aggs (q3/q12/q18/q21) and the
      // l_partkey join/agg (q17/q9/q20); dimensions stay uniform
      def writeMany0(df: DataFrame, name: String): Unit = {
        df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        println(s"[gendata] wrote $outDir/$name.parquet")
      }
      writeMany0(nation(spark), "nation")
      writeMany0(region(spark), "region")
      writeMany0(supplier(spark, 1000L * mult), "supplier")
      writeMany0(customer(spark, 15000L * mult), "customer")
      writeMany0(part(spark, 20000L * mult), "part")
      writeMany0(orders(spark, 150000L * mult, 15000L * mult), "orders")
      writeMany0(lineitem(spark, 600000L * mult, 20000L * mult,
        1000L * mult, hotOrderShare = 0.25, hotPartShare = 0.25), "lineitem")
      spark.stop()
      return
    }
    writeOne(documents(spark, 5000L * mult, zipf), "documents", "doc_id")
    writeOne(embeddings(spark, 2000L * mult), "embeddings", "vec_id")
    writeOne(events(spark, 100000L * mult, 1500L * mult, zipf), "events",
      "event_id")
    if (args.lift(2).contains("pipeline")) {
      // doc/emb/events only — the pipeline-family scale fixture; skips
      // the relational tables whose generation dominates at high mult
      spark.stop()
      return
    }
    // relational tables need no single-file layout (nothing streams
    // them) — a plain distributed write into <table>.parquet/ keeps
    // generation and scans parallel at any multiplier
    def writeMany(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[gendata] wrote $outDir/$name.parquet")
    }
    writeMany(nation(spark), "nation")
    writeMany(region(spark), "region")
    writeMany(supplier(spark, 1000L * mult), "supplier")
    writeMany(customer(spark, 15000L * mult), "customer")
    writeMany(part(spark, 20000L * mult), "part")
    writeMany(orders(spark, 150000L * mult, 15000L * mult), "orders")
    writeMany(lineitem(spark, 600000L * mult, 20000L * mult, 1000L * mult),
      "lineitem")
    spark.stop()
  }
}

/** Re-lay an `events.parquet` fixture as N contiguous TIME slices
  * (`events-00.parquet` … time-ordered, written sequentially so
  * file-stream listing order == time order) — the production arrival
  * shape for the streaming entries: with `maxFilesPerTrigger=1` each
  * slice is one micro-batch, the watermark advances between batches,
  * and session/dedup state evicts instead of holding the whole corpus
  * (the single-file fixture degenerates to one batch = all state
  * resident at once). Usage: `runMain graft.SplitEventsByTime <inDir>
  * <outDir> <nSlices>`. */
object SplitEventsByTime {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("graft-split",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    split(spark, args(0), args(1), args.lift(2).map(_.toInt).getOrElse(8),
      args.lift(3).getOrElse("events"))
    spark.stop()
  }

  def split(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, n: Int, table: String = "events"): Unit = {
    val ev = spark.read.parquet(s"$inDir/$table.parquet")
    // exact contiguous arrival ranks: ntile over a global sort (one-off
    // fixture tool — the sort cost is paid here, not in any query).
    // events arrive in time order; documents in doc_id order.
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(orderCols(table).map(col): _*)
    val sliced = ev.withColumn("__slice", ntile(n).over(w) - 1).persist()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (i <- 0 until n) {
      val out = BenchFixtures.writeSingleFile(
        sliced.filter(col("__slice") === i).drop("__slice")
          .repartition(1)
          .sortWithinPartitions(orderCols(table).map(col): _*),
        outDir, f"$table%s-$i%02d",
        Map("parquet.block.size" -> (8L * 1024 * 1024).toString))
      println(s"[split] wrote $out")
    }
    sliced.unpersist()
  }

  private def orderCols(table: String): Seq[String] =
    if (table == "events") Seq("ts", "event_id") else Seq("doc_id")
}
