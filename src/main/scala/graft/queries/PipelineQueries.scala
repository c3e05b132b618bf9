package graft.queries

import graft.sources.Records
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-data-pipeline operators over `documents` / `embeddings` /
 * `events`: deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash,
 * embedding-cosine), similarity search (brute-force and IVF-bucketed
 * top-k), text analysis (language markers, quality, tokens,
 * fingerprints), multimodal plumbing, and sessionization.
 *
 * Every hash used is md5-derived so the DuckDB oracle reproduces results
 * bit-for-bit (`conv(substr(md5(x),1,15),16,10)` ≡
 * `('0x'||substr(md5(x),1,15))::BIGINT`).
 *
 * Scale notes:
 *  - all pairwise operators block candidates (LSH bands, (lang, length)
 *    buckets, IVF labels) — never an unblocked O(n²) cross join;
 *  - tokenization/shingling stays in higher-order-function expressions
 *    (`filter/transform/aggregate`) with let-bound inputs, no UDFs;
 *  - signature computation (MinHash, SimHash) is per-row with zero
 *    shuffle; at 100 TB only the compact band/bucket tables move, and
 *    candidate generation is always an equi-join on a selective key.
 */
object PipelineQueries {

  // The fixture parquet files hold ONE row group, so Spark scans them as
  // one task; the tokenize/shingle expressions then run single-threaded.
  // This is a LOCAL-FIXTURE optimization only: repartition() is always a
  // full shuffle of the table, so we apply it solely when the scan's
  // partition count is below the session parallelism (locally: 1 task,
  // a few MB moved, up to a 32× win on every text-heavy query). At real
  // scale the scan has thousands of splits, the guard is false, and no
  // shuffle is added.
  private def spread(d: DataFrame): DataFrame = {
    val par = d.sparkSession.sparkContext.defaultParallelism
    if (d.rdd.getNumPartitions < par) d.repartition(par) else d
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    spread(Records.table(s, dir, "documents"))

  private def emb(s: SparkSession, dir: String): DataFrame =
    spread(Records.table(s, dir, "embeddings"))

  /** Whitespace tokens, empties removed (codegen'd higher-order fn). */
  private val tokensExpr = "filter(split(text, ' '), t -> t != '')"

  /** Spark-side md5→60-bit int hash (15 hex chars); DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT */
  private def md5Long(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ---------------------------------------------------------------- dedup

  // D1 — exact dedup via content-hash groupBy (keeper = min doc_id).
  private val d1 = QueryDef(
    "d1_exact_dedup",
    (s, dir) => graft.operators.Dedup.exactDuplicates(docs(s, dir))
      .orderBy("content_hash"),
    Some(
      """SELECT md5(text) AS content_hash,
        |  CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin))

  private val bigramShinglesSql =
    """tok AS (
      |  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |        FROM documents)),
      |shingles AS (
      |  SELECT DISTINCT doc_id,
      |    w || ' ' || LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS sh
      |  FROM tok QUALIFY sh IS NOT NULL)""".stripMargin

  // D2 — n-gram (word-bigram) Jaccard near-dup with (lang, length)
  // blocking. This is the EXACT pairwise baseline: the shingle self-join
  // enumerates every co-shingled pair inside a block, so its cost grows
  // with block overlap — d3 (MinHash-LSH) is the 100-TB path; d2 exists
  // to verify it and to serve bounded blocks exactly.
  //
  // Scale evidence (sf0.1→sf1, ×10 rows): join volume Σ_key freq² grew
  // 2.0 M → 194 M (×95) because the fixture's 31-word vocabulary makes
  // EVERY bigram shingle's frequency scale with the corpus. A full
  // AllPairs/PPJoin candidate pass (global rarity order, ⌊|ws|/2⌋+1
  // prefixes, length + positional filters, array_intersect verify) was
  // implemented and measured: it still leaves 29 M candidates for the 76
  // true pairs at sf1 and runs no faster (39.6 s vs 30.8 s) — with a
  // dense fixed vocabulary no exact blocking is selective, the candidate
  // floor is information-limited, so the simple self-join is kept. On
  // real corpora vocabulary grows with the corpus (rare shingles exist)
  // and that prefix pass is the standard exact-at-scale upgrade; for
  // this engine the scale path stays d3, whose candidates are flat by
  // construction (measured 256 → 344 for ×10 rows).
  private val d2 = QueryDef(
    "d2_ngram_jaccard",
    (s, dir) => {
      val d = docs(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / lit(100)).cast("long"))
      // distinct word-bigram shingles per doc — one codegen'd
      // `word_ngrams` kernel call per row; the (lang, len_bucket)
      // blocking columns ride along the explode, so no meta join is
      // needed
      // `sh` feeds three branches (size agg + both self-join sides):
      // persist it for the pair build, materialize the small pair
      // report to session-temp parquet, and drop the corpus-sized
      // shingle blocks before returning — at 100 TB the pair report is
      // exactly what gets materialized to storage, and nothing stays
      // pinned on the executors after the build
      val sh = d.withColumn("ws", expr("word_ngrams(text, 2)"))
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"), col("lang"), col("len_bucket"),
          explode(col("ws")).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val a = sh.select(col("doc_id").as("doc_a"), col("sh"), col("lang"), col("len_bucket"))
      val b = sh.select(col("doc_id").as("doc_b"), col("sh"), col("lang"), col("len_bucket"))
      val inter = a.join(b, Seq("sh", "lang", "len_bucket"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("inter"))
      val pairs = inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
        .withColumn("jaccard",
          round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 6))
        .filter(col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
      val out = graft.SessionTemp.dir("graft_d2_")
      pairs.write.mode("overwrite").parquet(out)
      sh.unpersist()
      s.read.parquet(out).orderBy("doc_a", "doc_b")
    },
    Some(
      s"""WITH $bigramShinglesSql,
         |meta AS (SELECT doc_id, lang, n_chars // 100 AS len_bucket FROM documents),
         |sh AS (SELECT s.doc_id, s.sh, m.lang, m.len_bucket
         |       FROM shingles s JOIN meta m USING (doc_id)),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS i
         |  FROM sh a JOIN sh b
         |    ON a.sh = b.sh AND a.lang = b.lang AND a.len_bucket = b.len_bucket
         |   AND a.doc_id < b.doc_id
         |  GROUP BY doc_a, doc_b)
         |SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
         |  ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
         |FROM inter JOIN sizes sa ON doc_a = sa.doc_id
         |           JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin))

  /** Distinct unigram tokens per doc (SimHash oracle input). */
  private val unigramsSql =
    """uni AS (
      |  SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '),
      |                                 t -> t <> '')) AS w
      |  FROM documents)""".stripMargin

  // D3 — MinHash + LSH over word-3-gram shingles: 64 md5-derived
  // permutations in 16 bands × 4 rows. Docs collide in a band with
  // probability j^4, so random pairs (j ≈ 0) never become candidates
  // while true copies (j ≈ 1) almost surely do — measured retention at
  // sf0.01 is 25 of 124,750 possible pairs (0.02%), the selective plan
  // a 100-TB corpus needs. Candidates are verified with exact shingle
  // Jaccard. The whole signature is ONE per-row array expression
  // (codegen'd, zero shuffle); only the tiny 16-rows-per-doc band table
  // shuffles, on (band, band_hash).
  /** doc_id → distinct word-3-gram shingle array (`ws`), empty docs
    * dropped — one codegen'd `word_ngrams` kernel call per row
    * (tokenize, slide, join, dedupe in a single pass; see
    * [[graft.functions.Sketches.wordNGrams]]). SketchParitySpec pins it
    * to the legacy tokenize→window→concat→distinct lambda chain, whose
    * let-binding subtleties (CollapseProject re-inlining a referenced
    * tokens column per element) the kernel renders moot. */
  private def shingled(d: DataFrame): DataFrame =
    graft.operators.Dedup.shingles(d)

  private val shingledSql =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      |  FROM documents),
      |shf AS (
      |  SELECT doc_id, ws FROM (
      |    SELECT doc_id,
      |      list_distinct(CASE WHEN len(ts) >= 3 THEN
      |        list_transform(generate_series(1, len(ts) - 2),
      |          i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
      |      ELSE [] END) AS ws
      |    FROM toks)
      |  WHERE len(ws) > 0)""".stripMargin

  /** MinHash-LSH near-dup pairs (doc_a, doc_b, jaccard) — shared by the
    * pair report (d3) and the dedup keep-list (d6). The shingle table
    * `sh` feeds three branches of the pair build (the band table and
    * the two `ws` lookups of verification); without persisting it,
    * Catalyst recomputes the `word_ngrams` kernel for each branch. The
    * caller ([[minhashPairsShared]]) persists `sh` for the duration of
    * the pair build, which lands the tiny pair table in session-temp
    * parquet, and drops it right after, so nothing corpus-sized stays
    * pinned. */
  private def minhashPairs(s: SparkSession, dir: String,
      sh: DataFrame): DataFrame =
    // The whole LSH pipeline (64-permutation signature + 16 band
    // hashes as ONE codegen'd kernel call, band equi-join candidates,
    // exact-Jaccard verification) now lives in operators/Dedup — the
    // engine capability surface; this catalog keeps the session pair
    // cache and the DuckDB oracle that pins the arithmetic.
    graft.operators.Dedup.nearDupPairs(s, sh)

  /** Shingles → signatures → 16 band hashes, the LSH front half —
    * shared with [[StreamingQueries]]' d13 oracle (the streaming
    * incremental near-dup states its verdicts over the same bands). */
  private[queries] val bandsSqlCtes =
    s"""$shingledSql,
         |sigs AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(0, 63), s ->
         |      list_min(list_transform(hs, h -> (coefs[s+1] * h + s) % 2147483647))) AS sig
         |  FROM (
         |    SELECT doc_id,
         |      list_transform(ws, w ->
         |        ('0x' || substr(md5(w), 1, 15))::BIGINT % 2147483647) AS hs,
         |      list_transform(generate_series(0, 63), s ->
         |        1 + ('0x' || substr(md5('a:' || CAST(s AS VARCHAR)), 1, 15))::BIGINT
         |            % 2147483646) AS coefs
         |    FROM shf)),
         |bands AS (
         |  SELECT doc_id, b AS band,
         |    md5(array_to_string(list_transform(sig[b*4+1:b*4+4],
         |        x -> CAST(x AS VARCHAR)), ',')) AS band_hash
         |  FROM sigs, range(16) t(b))""".stripMargin

  /** The shared CTE chain for [[minhashPairs]]'s oracle (through `inter`
    * and `sizes`). */
  private val minhashSqlCtes =
    s"""$bandsSqlCtes,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
         |uni AS (SELECT doc_id, unnest(ws) AS w FROM shf),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM uni GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS i
         |  FROM cand c JOIN uni a ON a.doc_id = c.doc_a
         |              JOIN uni b ON b.doc_id = c.doc_b AND a.w = b.w
         |  GROUP BY c.doc_a, c.doc_b),
         |pairs AS (
         |  SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
         |    ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
         |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
         |             JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) >= 0.4)""".stripMargin

  /** Cluster-assignment CTE chain shared by d9/d11: the pair graph's
    * transitive closure (DuckDB-side mirror of the min-label/union-find
    * clustering) ending in `asg(doc_id, cluster_id)` over the full
    * corpus. Callers must open with `WITH RECURSIVE`. */
  private val clusterSqlCtes =
    s"""$minhashSqlCtes,
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION
       |  SELECT doc_b AS a, doc_a AS b FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |lbl AS (
       |  SELECT a AS doc_id, LEAST(MIN(b), a) AS cluster_id
       |  FROM reach GROUP BY a),
       |asg AS (
       |  SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       |    CAST(COALESCE(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id)""".stripMargin

  /** d3 and d6 are two readers of ONE pair table: at production scale
    * the pairs are materialized to parquet once and both the pair
    * report and the keep-list derive from the stored table — running
    * the MinHash chain twice at 100 TB would double the most expensive
    * stage of the pipeline. In-session the same shape is the pair
    * table `Dedup.nearDupPairs` lands in session-temp parquet, keyed by
    * (session, data dir): the first reader pays the signature pass,
    * the second re-reads the tiny landed table. */
  // CACHE CONTRACT: keys are (session, dir) and entries live until the
  // cap, or until `SessionTemp.cleanupNow()` removes the landed pair
  // files (the next reader then rebuilds the entry); fixture dirs are
  // immutable during a run (regenerating a dir mid-session would serve
  // stale pairs). The cap bounds the map, not
  // the disk: on overflow the map restarts, but the evicted entries'
  // landed parquet dirs stay until SessionTemp removes them at JVM exit
  // (a frame handed out before the eviction may still be scanning its
  // dir). Each is a few hundred pair rows, so a driver sweeping many
  // dirs grows its session-temp root by a few KB per (session, dir).
  private val pairsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def minhashPairsShared(s: SparkSession, dir: String): DataFrame =
    pairsCache.synchronized {
      if (pairsCache.size > 8) pairsCache.clear()
      graft.SessionTemp.live(pairsCache, (s, dir))(_.inputFiles.toSeq) {
        // persist the shingle table for the pair build only:
        // nearDupPairs lands the pair table in session-temp parquet,
        // after which the corpus-sized shingle blocks are dropped — the
        // in-session twin of "materialize the signature table once,
        // derive everything from it" that a 100-TB run does on
        // distributed storage
        val sh = shingled(docs(s, dir))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try minhashPairs(s, dir, sh)
        finally sh.unpersist()
      }
    }

  private val d3 = QueryDef(
    "d3_minhash_lsh",
    (s, dir) => minhashPairsShared(s, dir).orderBy("doc_a", "doc_b"),
    Some(
      s"""WITH $minhashSqlCtes
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin))

  // D6 — the dedup DECISION: the keep-list after near-dup removal. A
  // document is dropped when it is the higher-id member of any detected
  // near-dup pair (keeper = lowest doc_id) — the output a training-data
  // pipeline actually feeds downstream.
  private val d6 = QueryDef(
    "d6_dedup_keeplist",
    (s, dir) => {
      val dropped = graft.operators.Dedup.dropIds(minhashPairsShared(s, dir))
      docs(s, dir).select("doc_id")
        .join(dropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id").cast("long").as("doc_id"))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH $minhashSqlCtes
         |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
         |ORDER BY doc_id""".stripMargin))

  // D4 — SimHash: 16-bit signature from md5-derived word hashes. The
  // whole signature is one per-row codegen'd kernel call
  // ([[graft.functions.Sketches.simhash16]]: distinct-word hashes
  // majority-voted per bit in a single pass) — zero shuffle, unlike the
  // explode-by-bit relational form which shuffled twice, and no
  // interpreted 16·|words| lambda walk like the HOF form it replaced.
  private val d4 = QueryDef(
    "d4_simhash",
    (s, dir) => {
      docs(s, dir)
        .filter(expr(s"size($tokensExpr) > 0"))
        .select(col("doc_id"),
          expr("simhash16(word_ngrams(text, 1))").as("simhash"))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH $unigramsSql,
         |hashed AS (
         |  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM uni),
         |contrib AS (
         |  SELECT doc_id, b,
         |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM hashed, range(16) t(b) GROUP BY doc_id, b)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
         |    AS simhash
         |FROM contrib GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------- similarity

  /** Cosine over double-cast arrays via the codegen'd `vec_dot` kernel
    * (sequential index-order fold — deterministic, bit-identical to the
    * `aggregate(zip_with(...))` form it replaced and to DuckDB's
    * `list_dot_product`; see [[graft.functions.Sketches.dotOrNull]]). */
  private def cosineCols(a: String, b: String): org.apache.spark.sql.Column = {
    val dot = expr(s"vec_dot($a, $b)")
    val na = expr(s"vec_dot($a, $a)")
    val nb = expr(s"vec_dot($b, $b)")
    dot / (sqrt(na) * sqrt(nb))
  }

  private val cosineSql =
    "list_dot_product(%A, %B) / (sqrt(list_dot_product(%A, %A)) * sqrt(list_dot_product(%B, %B)))"

  private def cosSql(a: String, b: String): String =
    cosineSql.replace("%A", a).replace("%B", b)

  // D5 — embedding-cosine near-dup: random-hyperplane LSH buckets inside
  // each label block, all-pairs cosine only within (label, table, bucket).
  // Label-only blocking is O(n²) on a hot label at 100 TB; the 2-table
  // hyperplane split bounds each bucket regardless of skew (see
  // [[graft.functions.VectorLsh]]), and the bit count GROWS WITH THE
  // CORPUS (`adaptiveBits`: ~constant bucket occupancy) so in-bucket
  // pair work stays linear — with 3 bits fixed, candidates measured ×100
  // for ×10 rows at sf0.1→sf1; with log₂(n/250) bits the occupancy is
  // flat. At the oracle-gate scales (n ≤ 2000) adaptiveBits = 3, exactly
  // the fixed 3-bit SQL the DuckDB oracle runs. The corpus count is one
  // parquet-metadata job (no data read, no shuffle).
  private val d5 = QueryDef(
    "d5_embedding_dup",
    (s, dir) => {
      import graft.functions.VectorLsh
      val bits = VectorLsh.adaptiveBits(Records.table(s, dir, "embeddings").count())
      val e = emb(s, dir).select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      val cand = VectorLsh.candidatePairs(e, "vec_id", Seq("label"),
          bitsPerTable = bits)
        .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"), col("label"))
      cand
        .join(e.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
        .withColumn("cos", round(cosineCols("va", "vb"), 4))
        .filter(col("cos") >= 0.35)
        .select(col("vec_a"), col("vec_b"),
          col("label").cast("long").as("label"), col("cos"))
        .orderBy("vec_a", "vec_b")
    },
    Some {
      import graft.functions.VectorLsh
      val b0 = VectorLsh.bucketSql("v", 0, 3, 64)
      val b1 = VectorLsh.bucketSql("v", 1, 3, 64)
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |bk AS (SELECT vec_id, label, v, $b0 AS b0, $b1 AS b1 FROM e),
         |tagged AS (
         |  SELECT vec_id, label, 0 AS tbl, b0 AS bucket FROM bk
         |  UNION ALL
         |  SELECT vec_id, label, 1 AS tbl, b1 AS bucket FROM bk),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label
         |  FROM tagged a JOIN tagged b
         |    ON a.label = b.label AND a.tbl = b.tbl AND a.bucket = b.bucket
         |   AND a.vec_id < b.vec_id)
         |SELECT CAST(c.vec_a AS BIGINT) AS vec_a, CAST(c.vec_b AS BIGINT) AS vec_b,
         |  CAST(c.label AS BIGINT) AS label,
         |  ROUND(${cosSql("ea.v", "eb.v")}, 4) AS cos
         |FROM cand c JOIN e ea ON ea.vec_id = c.vec_a
         |            JOIN e eb ON eb.vec_id = c.vec_b
         |WHERE ROUND(${cosSql("ea.v", "eb.v")}, 4) >= 0.35
         |ORDER BY vec_a, vec_b""".stripMargin
    })

  // ------------------------------------------------- clustering (SemDeDup)

  // Shared oracle chain for the c-family: the same deterministic Lloyd
  // k-means operators/Clustering runs (k=8, iters=2, shift+quantize to
  // integer-valued doubles — see Clustering's Scaladoc for why every
  // sum, floor-division and argmin is bit-identical across engines).
  private val kmSsd =
    "list_sum(list_transform(list_zip(v.qv, s.c), p -> (p[1]-p[2])*(p[1]-p[2])))"
  private def kmAssign(src: String, cent: String): String =
    s"""(SELECT vec_id, qv, cl FROM (
       |   SELECT v.vec_id, v.qv, s.cl,
       |     row_number() OVER (PARTITION BY v.vec_id ORDER BY $kmSsd, s.cl) AS rn
       |   FROM $src v CROSS JOIN $cent s) WHERE rn = 1)""".stripMargin
  private def kmUpdate(asg: String): String =
    s"""(SELECT cl, list(dv ORDER BY i) AS c FROM (
       |   SELECT cl, i, floor(sum(qv[i]) / count(*)) AS dv
       |   FROM $asg a, generate_series(1, 64) t(i) GROUP BY cl, i)
       | GROUP BY cl)""".stripMargin
  private val kmChain =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id, list_transform(v, x -> round((x + 1.0) * 1000000)) AS qv FROM e),
       |seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl, qv AS c
       |          FROM (SELECT * FROM q ORDER BY vec_id LIMIT 8)),
       |a0 AS ${kmAssign("q", "seeds")},
       |c1 AS ${kmUpdate("a0")},
       |a1 AS ${kmAssign("q", "c1")},
       |c2 AS ${kmUpdate("a1")},
       |a2 AS ${kmAssign("q", "c2")}""".stripMargin

  // C1 — deterministic Lloyd k-means assignment (the clustering stage of
  // SemDeDup). iters+1 corpus passes, argmin against broadcast centroid
  // literals (no join), k·d-row exchanges; see operators/Clustering.
  private val c1q = QueryDef(
    "c1_kmeans_assign",
    (s, dir) =>
      graft.operators.Clustering.kMeansAssign(
        emb(s, dir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")),
        k = 8, iters = 2)
      .orderBy("vec_id"),
    Some(
      s"""WITH $kmChain
         |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cl AS BIGINT) AS cluster
         |FROM a2 ORDER BY vec_id""".stripMargin))

  // C1B — the TWO-LEVEL fit under the oracle: coarse k1-cell Lloyd over
  // the corpus, cell assignment frozen, then Lloyd for every cell's
  // sub-centroids simultaneously; cluster id = cell·k2+sub with
  // k2 = 1 + max surviving sub id (collision-free stride — see
  // Clustering.tagClustersTwoLevel). k=12 / k1Override=3 pins the chain
  // small enough for DuckDB to replay it exactly: the same quantized
  // integer arithmetic as c1, twice (coarse chain, then per-cell fine
  // chain keyed by cell). This is the path kMeansAssign auto-selects at
  // k >= autoTwoLevelK (the corpus-scaled-k scale path).
  private def km2Assign(src: String, cent: String): String =
    s"""(SELECT vec_id, cell, qv, sub FROM (
       |   SELECT v.vec_id, v.cell, v.qv, s.sub,
       |     row_number() OVER (PARTITION BY v.vec_id ORDER BY $kmSsd, s.sub) AS rn
       |   FROM $src v JOIN $cent s ON s.cell = v.cell) WHERE rn = 1)""".stripMargin
  private def km2Update(asg: String): String =
    s"""(SELECT cell, sub, list(dv ORDER BY i) AS c FROM (
       |   SELECT cell, sub, i, floor(sum(qv[i]) / count(*)) AS dv
       |   FROM $asg a, generate_series(1, 64) t(i) GROUP BY cell, sub, i)
       | GROUP BY cell, sub)""".stripMargin
  private val km2Chain =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id, list_transform(v, x -> round((x + 1.0) * 1000000)) AS qv FROM e),
       |cseeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl, qv AS c
       |           FROM (SELECT * FROM q ORDER BY vec_id LIMIT 3)),
       |ca0 AS ${kmAssign("q", "cseeds")},
       |cc1 AS ${kmUpdate("ca0")},
       |ca1 AS ${kmAssign("q", "cc1")},
       |cc2 AS ${kmUpdate("ca1")},
       |cells0 AS ${kmAssign("q", "cc2")},
       |cells AS (SELECT vec_id, qv, cl AS cell FROM cells0),
       |fseeds AS (
       |  SELECT cell, CAST(rn - 1 AS BIGINT) AS sub, qv AS c FROM (
       |    SELECT cell, qv, row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
       |    FROM cells) WHERE rn <= 4),
       |fa0 AS ${km2Assign("cells", "fseeds")},
       |fc1 AS ${km2Update("fa0")},
       |fa1 AS ${km2Assign("cells", "fc1")},
       |fc2 AS ${km2Update("fa1")},
       |ftag AS ${km2Assign("cells", "fc2")},
       |k2m AS (SELECT max(sub) + 1 AS m FROM fc2)""".stripMargin
  private val c1bq = QueryDef(
    "c1b_kmeans_two_level",
    (s, dir) =>
      graft.operators.Clustering.kMeansAssign(
        emb(s, dir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")),
        k = 12, iters = 2, twoLevel = Some(true), k1Override = 3)
      .orderBy("vec_id"),
    Some(
      s"""WITH $km2Chain
         |SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |  CAST(cell * (SELECT m FROM k2m) + sub AS BIGINT) AS cluster
         |FROM ftag ORDER BY vec_id""".stripMargin))

  // C2 — SemDeDup semantic dedup: pairwise cosine INSIDE each k-means
  // cluster only (Σ size² pair work instead of n²; k scales with the
  // corpus to bound cluster sizes), drop = has a lower-id neighbor at
  // rounded cosine ≥ 0.35 (d5's threshold convention).
  private val c2q = QueryDef(
    "c2_semantic_dedup",
    (s, dir) =>
      graft.operators.Clustering.semanticDrops(
        emb(s, dir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")),
        k = 8, iters = 2, tau = 0.35)
      .orderBy("vec_id"),
    Some(
      s"""WITH $kmChain,
         |pairs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb, a.cl
         |  FROM a2 a JOIN a2 b ON a.cl = b.cl AND a.vec_id < b.vec_id),
         |simp AS (
         |  SELECT p.va, p.vb, p.cl FROM pairs p
         |  JOIN e ea ON ea.vec_id = p.va JOIN e eb ON eb.vec_id = p.vb
         |  WHERE ROUND(${cosSql("ea.v", "eb.v")}, 4) >= 0.35)
         |SELECT CAST(vb AS BIGINT) AS vec_id, CAST(cl AS BIGINT) AS cluster,
         |       CAST(min(va) AS BIGINT) AS dup_of
         |FROM simp GROUP BY vb, cl ORDER BY vec_id""".stripMargin))

  // SIM1 — brute-force cosine top-k (baseline ANN): 5 query vectors × all.
  private val sim1 = QueryDef(
    "sim_topk_bruteforce",
    (s, dir) =>
      graft.operators.Similarity.bruteForceTopK(
        emb(s, dir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")),
        col("vec_id") < 5, k = 5)
      .orderBy("q_id", "rank"),
    Some(
      s"""WITH e AS (SELECT vec_id, embeddings.embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.q_id, e.vec_id, ROUND(${cosSql("q.qv", "e.v")}, 4) AS cos
         |  FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id)
         |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id)
         |       AS BIGINT) AS rank
         |FROM scored QUALIFY rank <= 5 ORDER BY q_id, rank""".stripMargin))

  // SIM2 — IVF ANN with a real coarse index: 8 deterministically seeded
  // centroids (the vectors with the smallest md5 of "c:"||vec_id), every
  // vector assigned to its nearest centroid by cosine, queries probe the
  // nprobe=2 nearest cells and brute-force only there. The structure is
  // the standard IVF plan: centroid table broadcast (8 rows), assignment
  // one pass over vectors, search touches ~2/8 of the corpus instead of
  // all of it — the ratio a 100-TB index keeps as k scales with n.
  // Recall vs the exact baseline is measured in AnnRecallSpec.
  //
  // Scale shape (both previously unpartitioned/per-row windows are gone):
  //  - seed selection is orderBy+limit(8) => TakeOrderedAndProject, a
  //    partial top-k that never funnels the table through one window task
  //    (the row_number that assigns cell ids runs over the 8-row result);
  //  - nearest-cell assignment is a hash aggregation (max_by over the
  //    (sim, -cell) ordering struct), a single map-side-combinable shuffle
  //    instead of sorting every (vec x 8 centroids) group in a window.
  private val sim2 = QueryDef(
    "sim_topk_ivf",
    (s, dir) =>
      graft.operators.Similarity.ivfTopK(
        emb(s, dir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")),
        col("vec_id") < 20, k = 3, nCells = 8, nprobe = 2)
      .orderBy("q_id", "rank"),
    Some(
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |seeds AS (
         |  SELECT CAST(crank AS BIGINT) AS cell, v AS cv FROM (
         |    SELECT vec_id, v,
         |      ROW_NUMBER() OVER (ORDER BY
         |        ('0x' || substr(md5('c:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
         |        vec_id) AS crank
         |    FROM e) WHERE crank <= 8),
         |assign AS (
         |  SELECT vec_id, cell, v FROM (
         |    SELECT e.vec_id, s.cell, e.v,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ROUND(${cosSql("e.v", "s.cv")}, 6) DESC, s.cell) AS arn
         |    FROM e CROSS JOIN seeds s) WHERE arn = 1),
         |probes AS (
         |  SELECT q_id, qv, cell FROM (
         |    SELECT q.vec_id AS q_id, q.v AS qv, s.cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ROUND(${cosSql("q.v", "s.cv")}, 6) DESC, s.cell) AS prn
         |    FROM e q CROSS JOIN seeds s WHERE q.vec_id < 20) WHERE prn <= 2)
         |SELECT CAST(p.q_id AS BIGINT) AS q_id, CAST(a.vec_id AS BIGINT) AS vec_id,
         |  p.cell, ROUND(${cosSql("p.qv", "a.v")}, 4) AS cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY p.q_id
         |    ORDER BY ROUND(${cosSql("p.qv", "a.v")}, 4) DESC, a.vec_id) AS BIGINT) AS rank
         |FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id
         |QUALIFY rank <= 3 ORDER BY q_id, rank""".stripMargin))

  // SIM3 — LSH-bucketed ANN (the label-free scale path): queries probe
  // their own hyperplane buckets across 2 tables; only bucket-mates are
  // scored. Complements sim2's IVF — no training/centroids, bucket sizes
  // bounded by 2^bits, recall from multi-table probing.
  private val sim3 = QueryDef(
    "sim_topk_lsh",
    (s, dir) =>
      graft.operators.Similarity.lshTopK(
        emb(s, dir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")),
        col("vec_id") < 20, k = 3, tables = 2, bits = 3, dims = 64)
      .orderBy("q_id", "rank"),
    Some {
      import graft.functions.VectorLsh
      val b0 = VectorLsh.bucketSql("v", 0, 3, 64)
      val b1 = VectorLsh.bucketSql("v", 1, 3, 64)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bk AS (SELECT vec_id, v, $b0 AS b0, $b1 AS b1 FROM e),
         |tagged AS (
         |  SELECT vec_id, v, 0 AS tbl, b0 AS bucket FROM bk
         |  UNION ALL
         |  SELECT vec_id, v, 1 AS tbl, b1 AS bucket FROM bk),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, q.v AS qv, t.vec_id, t.v
         |  FROM tagged q JOIN tagged t
         |    ON q.tbl = t.tbl AND q.bucket = t.bucket AND t.vec_id <> q.vec_id
         |  WHERE q.vec_id < 20)
         |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id,
         |  ROUND(${cosSql("qv", "v")}, 4) AS cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY ROUND(${cosSql("qv", "v")}, 4) DESC, vec_id) AS BIGINT) AS rank
         |FROM cand QUALIFY rank <= 3 ORDER BY q_id, rank""".stripMargin
    })

  // SIM4 — QUANTIZED ANN (int8 coarse scoring + full-precision re-rank):
  // the production serving pipeline at 100 TB, end-to-end. Vectors are
  // L2-normalized and symmetrically quantized to int8 (round(x/‖v‖·127)
  // — integral values carried as doubles so the dot product is EXACT
  // integer arithmetic in both engines, sums ≪ 2⁵³; no float-sum
  // rounding boundary can flip the cross-engine hash). Candidates come
  // from the same 2-table hyperplane LSH as sim3 (bucketed — never
  // all-pairs), are coarse-ranked by the int8 dot (ties broken by
  // vec_id: integer-deterministic), and only the top-10 survivors per
  // query FETCH their full-precision vectors back by id (broadcast of
  // the tiny candidate set against the store — at scale the quantized
  // index is the only corpus-wide scan: 4× less IO than float32, 8× less
  // than the double fixture) for the exact-cosine top-3. Quantization
  // error is confined to candidate SELECTION (measured in AnnRecallSpec
  // style against sim1's exact baseline); emitted scores are exact.
  private val sim4 = QueryDef(
    "sim_topk_quant",
    (s, dir) =>
      graft.operators.Similarity.quantizedTopK(
        emb(s, dir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")),
        col("vec_id") < 20, k = 3, coarseK = 10, tables = 2, bits = 3,
        dims = 64)
      .orderBy("q_id", "rank"),
    Some {
      import graft.functions.VectorLsh
      val b0 = VectorLsh.bucketSql("v", 0, 3, 64)
      val b1 = VectorLsh.bucketSql("v", 1, 3, 64)
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
         |e8 AS (
         |  SELECT vec_id, v,
         |    list_transform(v, x -> ROUND(x / sqrt(list_dot_product(v, v)) * 127))
         |      AS q8
         |  FROM e),
         |bk AS (SELECT vec_id, q8, v, $b0 AS b0, $b1 AS b1 FROM e8),
         |tagged AS (
         |  SELECT vec_id, q8, 0 AS tbl, b0 AS bucket FROM bk
         |  UNION ALL
         |  SELECT vec_id, q8, 1, b1 FROM bk),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, q.q8 AS qq8, t.vec_id, t.q8
         |  FROM tagged q JOIN tagged t
         |    ON q.tbl = t.tbl AND q.bucket = t.bucket AND t.vec_id <> q.vec_id
         |  WHERE q.vec_id < 20),
         |coarse AS (
         |  SELECT q_id, vec_id,
         |    CAST(list_dot_product(qq8, q8) AS BIGINT) AS qdot,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY CAST(list_dot_product(qq8, q8) AS BIGINT) DESC, vec_id)
         |      AS crank
         |  FROM cand QUALIFY crank <= 10)
         |SELECT CAST(c.q_id AS BIGINT) AS q_id,
         |  CAST(c.vec_id AS BIGINT) AS vec_id, c.qdot,
         |  ROUND(${cosSql("qe.v", "te.v")}, 4) AS cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY c.q_id
         |    ORDER BY ROUND(${cosSql("qe.v", "te.v")}, 4) DESC, c.vec_id)
         |    AS BIGINT) AS rank
         |FROM coarse c
         |JOIN e te ON te.vec_id = c.vec_id
         |JOIN e qe ON qe.vec_id = c.q_id
         |QUALIFY rank <= 3 ORDER BY q_id, rank""".stripMargin
    })

  // SIM5 — the PERSISTED form of sim2's IVF: build the index once
  // (centroid table + cell-PARTITIONED assignment, committed by a
  // fingerprinted marker — the x15b postings-index discipline applied
  // to the ANN wing), then serve every query set as a probe that
  // broadcasts the nCells-row centroid table and directory-prunes the
  // assignment scan to the probed cells. sim2 re-fits seeds and
  // re-assigns the corpus per invocation — right for one-shot, wrong
  // at 100 TB where assignment is the corpus-wide pass and probes
  // should touch nprobe/nCells of the index. The entry probes TWICE
  // through ensureIvfIndex and require-pins that the second call
  // REUSED the committed index (the amortization surface is real, not
  // a rebuild that happens to match); same oracle SQL as sim2 — two
  // physical strategies, one relational contract.
  private val sim5 = QueryDef(
    "sim_topk_ivf_indexed",
    (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val idx = graft.SessionTemp.dir("graft_sim5_idx_")
      val fp = graft.operators.Retrieval.pathFingerprint(
        s"$dir/embeddings.parquet")
      graft.operators.Similarity.ensureIvfIndex(e, idx, fp, nCells = 8)
      val rebuilt = graft.operators.Similarity
        .ensureIvfIndex(e, idx, fp, nCells = 8)
      require(!rebuilt, "second ensureIvfIndex rebuilt a fresh index")
      graft.operators.Similarity.probeIvfIndex(s, idx,
        e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("v").as("qv")),
        k = 3, nprobe = 2)
        .orderBy("q_id", "rank")
    },
    sim2.oracle)

  // ---------------------------------------------------- text analysis

  // X1 — language-marker profile (n-gram heuristic scoring). The
  // per-row signal builder (single let-bound tokenization, marker
  // counts, ratio + label) lives in operators/TextAnalysis.scala —
  // this entry pins the default marker set under the oracle gate.
  private val x1 = QueryDef(
    "x1_lang_profile",
    (s, dir) => graft.operators.TextAnalysis.langProfile(docs(s, dir))
      .orderBy("doc_id"),
    Some(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, t -> t = 'the')) AS BIGINT) AS n_the,
        |    CAST(len(list_filter(toks, t -> t = 'a')) AS BIGINT) AS n_a
        |  FROM t)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens, n_the, n_a,
        |  ROUND(CAST(n_the + n_a AS DOUBLE) / n_tokens, 6) AS marker_ratio,
        |  CASE WHEN ROUND(CAST(n_the + n_a AS DOUBLE) / n_tokens, 6) >= 0.05
        |       THEN 'en-like' ELSE 'other' END AS predicted
        |FROM c ORDER BY doc_id""".stripMargin))

  // X2 — quality scoring: lexical diversity + stopword ratio buckets
  // (operators/TextAnalysis.qualityScore; defaults pinned here).
  private val x2 = QueryDef(
    "x2_quality_score",
    (s, dir) => graft.operators.TextAnalysis.qualityScore(docs(s, dir))
      .orderBy("doc_id"),
    Some(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |    CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of'))
        |         AS BIGINT) AS n_stop
        |  FROM t)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens, n_distinct,
        |  ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
        |  ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
        |  CASE WHEN n_tokens < 20 THEN 'too_short'
        |       WHEN ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) < 0.3
        |         THEN 'repetitive'
        |       ELSE 'ok' END AS quality
        |FROM c ORDER BY doc_id""".stripMargin))

  // X3 — token statistics (operators/TextAnalysis.tokenStats).
  private val x3 = QueryDef(
    "x3_token_stats",
    (s, dir) => graft.operators.TextAnalysis.tokenStats(docs(s, dir))
      .orderBy("doc_id"),
    Some(
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
        |       AS BIGINT) AS n_alpha,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
        |    AS token_chars,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  ROUND(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
        |        / len(toks), 4) AS chars_per_token
        |FROM t ORDER BY doc_id""".stripMargin))

  // X4 — positional document fingerprint, exact integer arithmetic
  // (operators/TextAnalysis.positionalFingerprint).
  private val x4 = QueryDef(
    "x4_fingerprint",
    (s, dir) => graft.operators.TextAnalysis
      .positionalFingerprint(docs(s, dir)).orderBy("doc_id"),
    Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |        FROM documents))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(SUM(pos * (unicode(w) + 7 * length(w))) AS BIGINT) AS fingerprint,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens
        |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // X5 — rolling-rotate document fingerprint (operators/TextAnalysis
  // .rollingFingerprint): position-rotated 32-bit hashes XOR-folded —
  // order-sensitive in the document, order-free across partitions.
  private val x5 = QueryDef(
    "x5_rolling_fingerprint",
    (s, dir) => graft.operators.TextAnalysis
      .rollingFingerprint(docs(s, dir)).orderBy("doc_id"),
    Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(toks) AS w,
        |    generate_subscripts(toks, 1) - 1 AS pos
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |        FROM documents)),
        |rotted AS (
        |  SELECT doc_id,
        |    ((('0x' || substr(md5(w), 1, 15))::BIGINT % 4294967296)
        |       << (pos % 32)) % 4294967296
        |    + ((('0x' || substr(md5(w), 1, 15))::BIGINT % 4294967296)
        |       >> (32 - (pos % 32))) AS rot
        |  FROM tok)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(bit_xor(rot) AS BIGINT) AS fingerprint,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens
        |FROM rotted GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // X6 — repetition / boilerplate signals (the Gopher-family repetition
  // quality filters), all six counters from ONE codegen'd kernel call
  // per row (operators/TextAnalysis.repetitionSignals over
  // [[graft.functions.Sketches.repetitionStats]]): zero shuffle, the
  // whole operator pipelines inside the scan stage at 100 TB.
  private val x6 = QueryDef(
    "x6_repetition",
    (s, dir) => graft.operators.TextAnalysis
      .repetitionSignals(docs(s, dir)).orderBy("doc_id"),
    Some(
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, len(ts) AS n_tokens, len(list_distinct(ts)) AS n_dis,
        |    greatest(len(ts) - 1, 0) AS n_bi,
        |    greatest(len(ts) - 2, 0) AS n_tri,
        |    CASE WHEN len(ts) >= 3 THEN len(list_distinct(list_transform(
        |      generate_series(1, len(ts) - 2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) ELSE 0 END AS n_tri_dis
        |  FROM toks),
        |bi AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i+1])) AS g
        |  FROM toks WHERE len(ts) >= 2),
        |topbi AS (
        |  SELECT doc_id, MAX(c) AS top_bi FROM (
        |    SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY doc_id, g)
        |  GROUP BY doc_id)
        |SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  ROUND(CASE WHEN n_tokens > 0
        |    THEN CAST(n_tokens - n_dis AS DOUBLE) / n_tokens ELSE 0 END, 6)
        |    AS dup_word_frac,
        |  ROUND(CASE WHEN n_tri > 0
        |    THEN CAST(n_tri - n_tri_dis AS DOUBLE) / n_tri ELSE 0 END, 6)
        |    AS dup_trigram_frac,
        |  ROUND(CASE WHEN n_bi > 0
        |    THEN CAST(COALESCE(top_bi, 0) AS DOUBLE) / n_bi ELSE 0 END, 6)
        |    AS top_bigram_frac
        |FROM base b LEFT JOIN topbi USING (doc_id)
        |ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------- multimodal

  // Byte-field extraction from a binary column, built entirely from
  // codegen'd built-ins: substring(binary) slices bytes, hex() renders
  // them (big-endian digit order), conv(_,16,10) re-reads the integer.
  // Little-endian fields reverse the bytes before conv.
  private def beU32(c: String, off: Int) =
    conv(hex(expr(s"substring($c, $off, 4)")), 16, 10).cast("long")
  private def leU32(c: String, off: Int) =
    conv(concat(
      hex(expr(s"substring($c, ${off + 3}, 1)")),
      hex(expr(s"substring($c, ${off + 2}, 1)")),
      hex(expr(s"substring($c, ${off + 1}, 1)")),
      hex(expr(s"substring($c, $off, 1)"))), 16, 10).cast("long")
  private val PngSigHex = "89504E470D0A1A0A"
  private val WaveTagHex = "57415645" // "WAVE"
  private val AviTagHex = "41564920"  // "AVI "

  // M1 — multimodal metadata extraction: REAL byte-level header decode.
  // The fixture generator (functions.MediaFixtures) wraps each doc's
  // text in a VALID container — PNG IHDR (spec CRC32) / WAV RIFF fmt /
  // AVI avih — whose embedded metadata is deterministic in md5(text);
  // this query then sniffs the container magic and parses width/height
  // (u32be at the IHDR offsets), duration (dataSize·1000/byteRate from
  // the fmt/data chunks) and fps/frames (avih) FROM THE BYTES, all in
  // codegen'd column expressions. The DuckDB oracle recomputes the
  // expected values from md5(text) independently, so the hash gate
  // proves the construct→parse round-trip; golden literal headers in
  // MultimodalSpec prove spec conformance, and the chunk-walking typed
  // twin (functions.Multimodal.decode, one decoder context per
  // partition) must agree with this column path.
  //
  // ORACLE CONTRACT: fixture text is ASCII (asserted by MultimodalSpec)
  // — DuckDB 1.0 has no BLOB substring/md5, so its side measures text
  // with char semantics, which equals bytes only under ASCII.
  private val m1 = QueryDef(
    "m1_multimodal_meta",
    (s, dir) => {
      graft.functions.MediaFixtures.withPayload(docs(s, dir))
        .withColumn("modality",
          when(hex(expr("substring(payload, 1, 8)")) === PngSigHex, "image")
            .when(hex(expr("substring(payload, 9, 4)")) === WaveTagHex, "audio")
            .when(hex(expr("substring(payload, 9, 4)")) === AviTagHex, "video")
            .otherwise("unknown"))
        .withColumn("byte_len", length(col("payload")).cast("long"))
        .withColumn("content_md5", md5(col("text").cast("binary")))
        .withColumn("byte_rate", leU32("payload", 29))
        .withColumn("data_size", leU32("payload", 41))
        .withColumn("us_per_frame", leU32("payload", 33))
        .select(col("doc_id"), col("modality"), col("byte_len"),
          col("content_md5"),
          when(col("modality") === "image", beU32("payload", 17)).as("width"),
          when(col("modality") === "image", beU32("payload", 21)).as("height"),
          when(col("modality") === "audio",
            expr("CAST(data_size * 1000 div byte_rate AS BIGINT)")).as("duration_ms"),
          when(col("modality") === "video", leU32("payload", 49)).as("n_frames"),
          when(col("modality") === "video",
            expr("CAST(1000000 div us_per_frame AS BIGINT)")).as("fps"))
        .orderBy("doc_id")
    },
    Some(
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |         ELSE 'video' END AS modality,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS text_len,
        |    md5(text) AS content_md5,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, modality,
        |  text_len + CASE modality WHEN 'image' THEN 33 WHEN 'audio' THEN 44
        |             ELSE 88 END AS byte_len,
        |  content_md5,
        |  CAST(CASE WHEN modality = 'image' THEN 160 + (h % 8) * 160 END
        |       AS BIGINT) AS width,
        |  CAST(CASE WHEN modality = 'image' THEN 120 + ((h // 8) % 8) * 120 END
        |       AS BIGINT) AS height,
        |  CAST(CASE WHEN modality = 'audio' THEN text_len * 1000 // 16000 END
        |       AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN modality = 'video' THEN (text_len + 63) // 64 END
        |       AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN modality = 'video' THEN 24 + (h % 2) * 6 END
        |       AS BIGINT) AS fps
        |FROM base ORDER BY doc_id""".stripMargin))

  // M2 — frame sampling over the container's BODY: the data offset is
  // PARSED from the header (PNG: 8 + chunk header + IHDR length + CRC;
  // WAV: after the canonical data-chunk header; AVI: RIFF header + hdrl
  // LIST size), then the stream is split into 64-byte frames, every 3rd
  // kept. Frame decode would need a codec; the offset parsing, explode
  // shape, per-frame hashing and sampling arithmetic are the real
  // plumbing — chunk-walking typed twin in functions.Multimodal
  // .frameSample. The body is the doc text, so the oracle frames text
  // (ASCII contract as in m1).
  private val m2 = QueryDef(
    "m2_frame_sample",
    (s, dir) => {
      graft.functions.MediaFixtures.withPayload(docs(s, dir))
        .withColumn("data_off",
          when(hex(expr("substring(payload, 1, 8)")) === PngSigHex,
            beU32("payload", 9) + lit(21)) // sig+len+type + ihdrLen + crc, 1-based
            .when(hex(expr("substring(payload, 9, 4)")) === WaveTagHex, lit(45L))
            .otherwise(leU32("payload", 17) + lit(21))) // RIFF+LIST hdr + listSize
        .withColumn("body", expr("substring(payload, data_off, length(payload))"))
        // empty bodies must emit NO frames: Spark's sequence(0, -1)
        // would yield a DESCENDING [0, -1] (phantom frame) where
        // DuckDB's generate_series(0, -1) is empty
        .filter(length(col("body")) > 0)
        .withColumn("n_frames",
          ((length(col("body")) + 63) / lit(64)).cast("int"))
        .select(col("doc_id"),
          explode(expr("sequence(0, n_frames - 1)")).as("frame_idx"),
          col("body"))
        .filter(col("frame_idx") % 3 === 0)
        .withColumn("frame", expr("substring(body, frame_idx * 64 + 1, 64)"))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          length(col("frame")).cast("long").as("frame_len"),
          md5(col("frame")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    },
    Some(
      """WITH f AS (
        |  SELECT doc_id, text,
        |    CAST((octet_length(encode(text)) + 63) // 64 AS INTEGER) AS n_frames
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |frames AS (
        |  SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS frame_idx,
        |    text
        |  FROM f)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(octet_length(encode(substring(text, frame_idx * 64 + 1, 64)))
        |       AS BIGINT) AS frame_len,
        |  md5(substring(text, frame_idx * 64 + 1, 64)) AS frame_md5
        |FROM frames WHERE frame_idx % 3 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin))

  // M3 — resize planning for image payloads: select images by PNG
  // signature sniff, parse width/height from the IHDR bytes, halve each
  // dimension (min 1) and estimate the resized byte budget (w·h·3
  // channels). Pixel resampling would need a codec; the header decode,
  // modality filter and dimension math are the real operator surface.
  private val m3 = QueryDef(
    "m3_image_resize",
    (s, dir) => {
      graft.functions.MediaFixtures.withPayload(docs(s, dir))
        .filter(hex(expr("substring(payload, 1, 8)")) === PngSigHex)
        .withColumn("width", beU32("payload", 17))
        .withColumn("height", beU32("payload", 21))
        .select(col("doc_id"), col("width"), col("height"),
          greatest(lit(1L), (col("width") / 2).cast("long")).as("r_width"),
          greatest(lit(1L), (col("height") / 2).cast("long")).as("r_height"),
          (greatest(lit(1L), (col("width") / 2).cast("long")) *
            greatest(lit(1L), (col("height") / 2).cast("long")) * 3)
            .as("est_bytes"))
        .orderBy("doc_id")
    },
    Some(
      """WITH img AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |dims AS (
        |  SELECT doc_id,
        |    CAST(160 + (h % 8) * 160 AS BIGINT) AS width,
        |    CAST(120 + ((h // 8) % 8) * 120 AS BIGINT) AS height
        |  FROM img)
        |SELECT doc_id, width, height,
        |  GREATEST(1, width // 2) AS r_width,
        |  GREATEST(1, height // 2) AS r_height,
        |  CAST(GREATEST(1, width // 2) * GREATEST(1, height // 2) * 3 AS BIGINT)
        |    AS est_bytes
        |FROM dims ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------- event streams

  // E1 — sessionization: 30-min-gap sessions via lag + cumulative sum
  // (operators/Sessionization.sessionize — the library surface; this
  // entry is the default parameterization the oracle gates).
  private val e1 = QueryDef(
    "e1_sessionize",
    (s, dir) => graft.operators.Sessionization.sessionize(
      Records.table(s, dir, "events"), gapSeconds = 1800L),
    Some(
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch,
        |    ts FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN epoch - LAG(epoch) OVER w IS NULL
        |                   OR epoch - LAG(epoch) OVER w > 1800
        |                 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, epoch,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged)
        |SELECT CAST(user_id AS BIGINT) AS user_id,
        |  CAST(session_id AS BIGINT) AS session_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MIN(epoch) AS BIGINT) AS session_start,
        |  CAST(MAX(epoch) AS BIGINT) AS session_end
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin))

  // E1B — the HOT-KEY-SAFE sessionizer: identical semantics (and
  // oracle) to e1 via the (user, 6-h bucket) carry decomposition —
  // design in Sessionization.sessionizeBucketed's Scaladoc
  // (SessionizeProps pins e1b == e1 on random timelines; the skew
  // bench measures the worst-task claim).
  private val e1b = QueryDef(
    "e1b_sessionize_bucketed",
    (s, dir) => graft.operators.Sessionization.sessionizeBucketed(
      Records.table(s, dir, "events"), gapSeconds = 1800L,
      bucketSeconds = 21600L),
    Some(
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch,
        |    ts FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN epoch - LAG(epoch) OVER w IS NULL
        |                   OR epoch - LAG(epoch) OVER w > 1800
        |                 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, epoch,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged)
        |SELECT CAST(user_id AS BIGINT) AS user_id,
        |  CAST(session_id AS BIGINT) AS session_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MIN(epoch) AS BIGINT) AS session_start,
        |  CAST(MAX(epoch) AS BIGINT) AS session_end
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin))

  // E2 — tumbling 1-hour event-time windows per type
  // (Sessionization.tumblingTypeCounts).
  private val e2 = QueryDef(
    "e2_event_windows",
    (s, dir) => graft.operators.Sessionization.tumblingTypeCounts(
      Records.table(s, dir, "events"), windowSeconds = 3600L),
    Some(
      """SELECT event_type,
        |  CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
        |  CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS sum_value
        |FROM events GROUP BY event_type, window_start
        |ORDER BY event_type, window_start""".stripMargin))

  // E9 — RETENTION COHORTS: the classic product-analytics matrix —
  // cohort users by FIRST-seen week, count how many are active k weeks
  // later. Three bounded shuffles, all partial-aggregated: (user, week)
  // two-level distinct (never COUNT(DISTINCT)'s Expand), a per-user min
  // for the cohort week, and a cohort-sized final count — the
  // user-week table is the only thing wider than the output, and at
  // 100 TB it is |users|·|weeks|, not |events|. Week buckets are plain
  // epoch-floor integers (identical both engines, no tz arithmetic).
  private val e9 = QueryDef(
    "e9_retention_cohorts",
    (s, dir) => graft.operators.Sessionization.retentionCohorts(
        Records.table(s, dir, "events"), periodSeconds = 7L * 86400L)
      .select(col("cohort_period").as("cohort_week"),
        col("period_offset").as("week_offset"), col("n_users")),
    Some(
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS week
        |  FROM events),
        |first AS (
        |  SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id)
        |SELECT f.cohort_week, u.week - f.cohort_week AS week_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM uw u JOIN first f USING (user_id)
        |GROUP BY f.cohort_week, week_offset
        |ORDER BY f.cohort_week, week_offset""".stripMargin))

  // E10 — LAST-TOUCH ATTRIBUTION: pair every conversion (purchase) with
  // the same user's most recent PRECEDING click, if one exists within a
  // 7-day lookback — the marketing-attribution primitive, and the
  // within-one-table form of the as-of join (j1 joins two tables; here
  // source and conversion interleave in one event stream, so the match
  // is a running carry, not a join at all). One scan, one user-keyed
  // ordered window: `last(click, ignoreNulls)` over an unbounded-
  // preceding frame carries the latest click forward in a single pass —
  // no self-join, no per-purchase probe. Ties (click and purchase on
  // the same timestamp) order by (ts, event_id) in both engines, so a
  // same-instant click with a lower id attributes and a higher id does
  // not — deterministic. Implementation: Sessionization.lastTouch
  // (the library surface; this entry fixes source = click, conversion
  // = purchase, 7-day lookback and the reference-anchored aliases).
  private val e10 = QueryDef(
    "e10_last_touch",
    (s, dir) => graft.operators.Sessionization.lastTouch(
        Records.table(s, dir, "events"), sourceType = "click",
        conversionType = "purchase", lookbackSeconds = 604800L)
      .select(col("event_id"), col("user_id"),
        col("conversion_epoch").as("purchase_epoch"),
        col("source_id").as("click_id"),
        col("secs_since_source").as("secs_since_click")),
    Some(
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch, ts FROM events),
        |marked AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |      IGNORE NULLS) OVER w AS click_id,
        |    last_value(CASE WHEN event_type = 'click' THEN epoch END
        |      IGNORE NULLS) OVER w AS click_epoch
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING))
        |SELECT CAST(event_id AS BIGINT) AS event_id,
        |  CAST(user_id AS BIGINT) AS user_id,
        |  epoch AS purchase_epoch,
        |  CASE WHEN click_epoch IS NOT NULL AND epoch - click_epoch <= 604800
        |       THEN CAST(click_id AS BIGINT) END AS click_id,
        |  CASE WHEN click_epoch IS NOT NULL AND epoch - click_epoch <= 604800
        |       THEN epoch - click_epoch END AS secs_since_click
        |FROM marked WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin))

  // E10B — HOT-USER twin of e10 (same oracle SQL — the decomposition
  // must be invisible): the (user, 6-h bucket) carry re-keying, design
  // in Sessionization.lastTouchBucketed's Scaladoc.
  private val e10b = QueryDef(
    "e10b_last_touch_bucketed",
    (s, dir) => graft.operators.Sessionization.lastTouchBucketed(
        Records.table(s, dir, "events"), sourceType = "click",
        conversionType = "purchase", lookbackSeconds = 604800L,
        bucketSeconds = 21600L)
      .select(col("event_id"), col("user_id"),
        col("conversion_epoch").as("purchase_epoch"),
        col("source_id").as("click_id"),
        col("secs_since_source").as("secs_since_click")),
    e10.oracle)

  // P1 — deterministic stratified sampling: downsample over-represented
  // strata (language here; domain/source in production) to a balanced
  // mix — the rebalancing step every training-data pipeline runs before
  // mixing corpora. Keep probability per stratum = smallest stratum
  // size / stratum size, gated by a salted md5 hash of the doc id so
  // the sample is REPRODUCIBLE (same corpus → same sample, regardless
  // of partitioning or cluster size) and needs no global sort or
  // per-stratum rank window: stratum stats are one tiny aggregate, the
  // thresholds broadcast, and the keep decision is a codegen'd per-row
  // filter — the only shuffle is the count aggregation. The integer
  // threshold `floor(1e6·min/cnt)` is IEEE-double math on both engines,
  // so the gate hashes identically.
  private val p1 = QueryDef(
    "p1_stratified_sample",
    (s, dir) =>
      // full balance: thr = floor(1e6·min/cnt) — the expression is
      // passed verbatim so the cross-engine double program is unchanged
      graft.operators.Sampling.sampleByStratum(docs(s, dir), "lang",
          "doc_id", "smp", (t, cnt) => floor(lit(1000000.0) * t / cnt))
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
        .orderBy("doc_id"),
    Some(
      """WITH counts AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS cnt
        |               FROM documents GROUP BY lang),
        |tgt AS (SELECT MIN(cnt) AS t FROM counts),
        |thr AS (SELECT lang, CAST(FLOOR(1000000.0 * t / cnt) AS BIGINT) AS thr
        |        FROM counts, tgt)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang
        |FROM documents d JOIN thr USING (lang)
        |WHERE ('0x' || substr(md5('smp:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 1000000 < thr
        |ORDER BY doc_id""".stripMargin))

  // D9 — near-dup CLUSTERS: connected components over the d3 pair graph.
  // d6's keep-list drops the higher-id member of each PAIR, which is the
  // right call only when the pair set is transitively closed; LSH gives
  // no such guarantee (a~b and b~c can band-collide while a~c does not).
  // The production dedup decision is per CLUSTER: every document gets a
  // cluster id (the minimum doc_id reachable through the pair graph) and
  // one keeper per cluster survives. Implementation is iterative
  // min-label propagation: each round every node takes the min of its
  // own label and its neighbors' labels — one equi-join + one
  // map-side-combinable min aggregation per round, converging in
  // O(graph diameter) rounds. Dup clusters from LSH are near-cliques
  // (diameter 2–3 regardless of corpus size: members collide through
  // shared band hashes), so the round count stays flat at 100 TB; an
  // adversarial long-chain graph would call for the small-star/
  // large-star variant (O(log n) rounds), which this loop's join shape
  // extends to without changing the data layout. The pair table is the
  // SAME persisted table d3/d6 read — the signature pass is paid once.
  /** Distributed min-label propagation over a symmetric edge table —
    * the big-graph path of [[d9]]. One equi-join + one
    * map-side-combinable min agg per round. Labels only ever decrease,
    * so the fixpoint test is "zero rows changed" — counted directly
    * (overflow-free on any doc-id space, unlike a Σ(label) compare,
    * which can wrap a Long). Exiting via the round cap without
    * convergence throws rather than silently returning wrong cluster
    * labels; LSH dup graphs are near-cliques (diameter 2–3), so hitting
    * the cap means the input is not the graph this loop is sized for.
    * The converged labels are MATERIALIZED to a session-temp parquet
    * table and read back, so every intermediate persist can be dropped
    * without forcing a recompute of the iteration chain on the
    * caller's actions, nothing stays pinned in executor storage after
    * the call, and — unlike `localCheckpoint`, whose blocks live only
    * on executors — the result survives executor loss. On a real
    * cluster the same write goes to the job's distributed scratch
    * space (labels are node-sized metadata, not record data, so the
    * write is cheap at any scale). */
  private def propagateMinLabels(spark: SparkSession, sym: DataFrame): DataFrame = {
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var converged = labels.isEmpty
    var rounds = 0
    while (!converged && rounds < 50) {
      val viaNbr = sym.join(labels.withColumnRenamed("node", "b"), "b")
        .select(col("a").as("node"), col("label"))
      val next = viaNbr.union(labels)
        .groupBy("node").agg(min("label").as("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // both sides read their cache; the join is node-sized metadata
      val changed = next
        .join(labels.withColumnRenamed("label", "prev"), "node")
        .where(col("label") < col("prev")).count()
      converged = changed == 0L
      labels.unpersist()
      labels = next
      rounds += 1
    }
    require(converged,
      s"min-label propagation did not converge in $rounds rounds: the " +
        "pair graph has diameter > 50 (not an LSH near-clique graph); " +
        "raise the cap or switch to the small-star/large-star variant")
    val outDir = graft.SessionTemp.dir("graft_d9_labels_")
    labels.write.mode("overwrite").parquet(outDir)
    labels.unpersist()
    spark.read.parquet(outDir)
  }

  /** Driver union-find over a collected edge array — the bounded-graph
    * fast path of [[d9]]. Union-by-min + path compression, so every
    * root IS the component minimum. */
  private def unionFindLabels(es: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    es.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSeq.distinct
      .map(n => n -> find(n))
  }

  /** Full-corpus (doc_id, cluster_id) assignment off the shared LSH pair
    * graph — the cluster half of [[d9]], reused by d11's quality keeper. */
  private def clusterAssignments(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
      val pairs = minhashPairsShared(s, dir)
      val edges = pairs.select(col("doc_a").cast("long").as("a"),
        col("doc_b").cast("long").as("b"))
      // LSH dup-pair graphs are tiny relative to the corpus (0.02%
      // retention, and near-dup RATE is a corpus property, not a size
      // one), so the default path collects the bounded edge list and
      // union-finds on the driver — graph metadata, not record data,
      // same class as the planner's workload tables. The guard keeps it
      // honest: past `spark.graft.cc.localEdges` edges (default 4M,
      // ~64 MB of longs) the DISTRIBUTED min-label propagation loop
      // takes over — O(diameter) rounds of join+min-agg, flat at 100 TB
      // because LSH clusters are near-cliques (members collide through
      // shared band hashes). TrainingPipelineSpec pins the two paths to
      // identical assignments on the fixture.
      val localMax = s.conf.getOption("spark.graft.cc.localEdges")
        .map(_.toLong).getOrElse(4L * 1024 * 1024)
      val nPairs = pairs.count() // cached table — metadata-cheap
      val clusters =
        if (nPairs <= localMax) {
          import scala.jdk.CollectionConverters._
          val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
          val rows: java.util.List[org.apache.spark.sql.Row] =
            unionFindLabels(es)
              .map { case (n, l) => org.apache.spark.sql.Row(n, l) }.asJava
          s.createDataFrame(rows,
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField("cluster_id",
                org.apache.spark.sql.types.LongType, nullable = false))))
        } else {
          val sym = edges
            .union(edges.select(col("b").as("a"), col("a").as("b")))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // labels comes back materialized to temp parquet (truncated
          // lineage), so the edge cache can be dropped immediately and
          // later actions on the output never re-run the iteration
          val labels = propagateMinLabels(s, sym)
          sym.unpersist()
          labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
        }
      // local-path clusters are a LocalRelation (auto-broadcast); the
      // distributed path's label table is node-sized and must be free to
      // shuffle-join, so no forced broadcast here
      docs(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id",
          coalesce(col("cluster_id"), col("doc_id")).cast("long"))
  }

  private val d9 = QueryDef(
    "d9_dup_clusters",
    (s, dir) => {
      val assigned = clusterAssignments(s, dir)
      val sizes = assigned.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
      assigned.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          (col("doc_id") === col("cluster_id")).cast("long").as("is_keeper"))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH RECURSIVE $clusterSqlCtes,
         |sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |       FROM asg GROUP BY cluster_id)
         |SELECT a.doc_id, a.cluster_id, s.cluster_size,
         |  CAST(CASE WHEN a.doc_id = a.cluster_id THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_keeper
         |FROM asg a JOIN sz s USING (cluster_id)
         |ORDER BY a.doc_id""".stripMargin))

  // P2 — PII scrubbing: regex detection + redaction of emails and phone
  // numbers, the compliance pass every training corpus runs before
  // tokenization. The fixture vocabulary contains no PII, so the query
  // SYNTHESIZES a deterministic contact block per document (identically
  // in both engines — the construction is part of the fixture, the
  // scrub is the operator) with varied multiplicity (0–2 emails, 0–1
  // phones per doc) so the counts are non-trivial. The whole operator
  // is per-row codegen'd regexp work with zero shuffle — at 100 TB it
  // pipelines inside the scan stage; patterns are kept to the common
  // RE2/Java subset so both engines match identical spans.
  private val p2 = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
    QueryDef(
      "p2_pii_scrub",
      (s, dir) => {
        docs(s, dir)
          .withColumn("raw", concat(
            col("text"),
            when(pmod(col("doc_id"), lit(3)) =!= 0,
              concat(lit(" contact user"), col("doc_id").cast("string"),
                lit("@example.com"))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(5)) === 0,
              concat(lit(" cc admin"), col("doc_id").cast("string"),
                lit("@corp.example.org"))).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(2)) === 0,
              concat(lit(" tel +1-555-"),
                lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
              .otherwise(lit(""))))
          .select(col("doc_id").cast("long").as("doc_id"),
            regexp_count(col("raw"), lit(emailRe)).cast("long").as("n_emails"),
            regexp_count(col("raw"), lit(phoneRe)).cast("long").as("n_phones"),
            md5(regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>").cast("binary")).as("scrubbed_md5"),
            length(regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).cast("long").as("scrubbed_len"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH raw AS (
           |  SELECT doc_id,
           |    text
           |    || CASE WHEN doc_id % 3 <> 0 THEN ' contact user'
           |         || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
           |    || CASE WHEN doc_id % 5 = 0 THEN ' cc admin'
           |         || CAST(doc_id AS VARCHAR) || '@corp.example.org' ELSE '' END
           |    || CASE WHEN doc_id % 2 = 0 THEN ' tel +1-555-'
           |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
           |      AS r
           |  FROM documents),
           |scrubbed AS (
           |  SELECT doc_id, r,
           |    regexp_replace(regexp_replace(r, '$emailRe', '<EMAIL>', 'g'),
           |      '$phoneRe', '<PHONE>', 'g') AS sc
           |  FROM raw)
           |SELECT CAST(doc_id AS BIGINT) AS doc_id,
           |  CAST(len(regexp_extract_all(r, '$emailRe')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(r, '$phoneRe')) AS BIGINT) AS n_phones,
           |  md5(sc) AS scrubbed_md5,
           |  CAST(length(sc) AS BIGINT) AS scrubbed_len
           |FROM scrubbed ORDER BY doc_id""".stripMargin))
  }

  // P3 — benchmark decontamination: flag training documents that share
  // any word-4-gram with an eval/benchmark set (here: every 97th doc
  // stands in for the benchmark suite). This is THE pre-training hygiene
  // join — eval suites are tiny (thousands of docs) while the corpus is
  // 100 TB, so the eval n-gram table is broadcast and the train side
  // streams through a map-side hash join inside the scan stage: no
  // shuffle of the corpus, cost linear in corpus n-grams. N-grams are
  // joined on their 60-bit md5-prefix hash (both engines derive it identically)
  // so only fixed-width keys ever leave the scan. n = 4 is fixture-fit:
  // the 31-word vocabulary means real-corpus n (8–13 in published
  // decontamination setups) matches nothing but exact copies here, while
  // 4-grams flag the near-dup family of each eval doc (8 train docs /
  // 9 shared grams at sf0.01) — selective but non-trivial.
  private val p3 = QueryDef(
    "p3_decontaminate",
    (s, dir) => {
      // Core in operators/Decontamination: every 97th doc stands in
      // for the benchmark suite, split on the shared n-gram-hash table.
      val grams = graft.operators.Decontamination.ngramHashes(docs(s, dir), 4)
      val eval = grams.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("eval_id"), col("gh")).distinct()
      graft.operators.Decontamination
        .flagExact(grams.filter(pmod(col("doc_id"), lit(97)) =!= 0), eval)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_shared_ngrams"), col("n_eval_docs"))
        .orderBy("doc_id")
    },
    Some(decontaminateSql))

  /** Shared oracle for [[p3]] and [[p4]] — the bloom pre-filter is an
    * optimization, not a semantics change, so both entries must hash to
    * the same exact answer. */
  private lazy val decontaminateSql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      |  FROM documents),
      |g4 AS (
      |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(ts) >= 4 THEN
      |    list_transform(generate_series(1, len(ts) - 3), i ->
      |      ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])
      |    ELSE [] END)) AS g
      |  FROM toks),
      |gh AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh FROM g4),
      |ev AS (SELECT DISTINCT doc_id AS eval_id, gh FROM gh WHERE doc_id % 97 = 0),
      |tr AS (SELECT doc_id, gh FROM gh WHERE doc_id % 97 <> 0)
      |SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
      |  CAST(COUNT(DISTINCT t.gh) AS BIGINT) AS n_shared_ngrams,
      |  CAST(COUNT(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
      |FROM tr t JOIN ev e USING (gh)
      |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  // P4 — decontamination AT SCALE: the Bloom-filter pre-filter form of
  // p3. At 100 TB even the BROADCAST eval n-gram hash table is heavy
  // (published eval suites reach 10^8 n-grams ⇒ ~1 GB of 8-byte keys
  // per executor, re-probed via a hash join); a Bloom filter at
  // ~10 bits/key is an order of magnitude smaller and its membership
  // probe runs INSIDE the corpus scan stage (`bloom_contains`, a
  // codegen'd literal-filter expression over spark-sketch's
  // BloomFilter — no join, no shuffle, deserialized once per task), so
  // the non-matching grams — virtually the entire corpus — are dropped
  // at the scan. Only the surviving ~fpp fraction enters the exact
  // broadcast join, which removes false positives and counts per-eval
  // matches: the output is bit-identical to p3 (same oracle). The tiny
  // result is materialized to session-temp parquet and the eval cache
  // released before returning — nothing corpus-sized stays pinned.
  private val p4 = QueryDef(
    "p4_bloom_decontaminate",
    (s, dir) => {
      // Same core as p3 with the Bloom pre-filter threaded through
      // (Decontamination.evalBloom → flagExact(bloomBytes=...)); eval
      // is persisted because the bloom build and the exact join both
      // read it, and released before returning.
      val grams = graft.operators.Decontamination.ngramHashes(docs(s, dir), 4)
      val eval = grams.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("eval_id"), col("gh")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bytes = graft.operators.Decontamination
        .evalBloom(eval, eval.count(), 0.01)
      val result = graft.operators.Decontamination
        .flagExact(grams.filter(pmod(col("doc_id"), lit(97)) =!= 0), eval,
          Some(bytes))
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_shared_ngrams"), col("n_eval_docs"))
      val out = graft.SessionTemp.dir("graft_p4_")
      result.write.mode("overwrite").parquet(out)
      eval.unpersist()
      s.read.parquet(out).orderBy("doc_id")
    },
    Some(decontaminateSql))

  // P5 — temperature-based source rebalancing: the multilingual /
  // multi-source mixing step (sampling weight ∝ n^α, α = 0.5 here — the
  // mT5/XLM-R convention). p1 flattens strata to the minimum (α = 0);
  // this is the general form: per-source keep rate (n_min/n_s)^(1-α),
  // so over-represented sources are downsampled toward — but not all
  // the way to — uniform. Same deterministic machinery as p1: one tiny
  // per-source aggregate, thresholds broadcast, the keep decision a
  // codegen'd salted-hash filter, so the sample is reproducible on any
  // cluster size and the corpus is never sorted or shuffled. The
  // threshold `floor(1e6·sqrt(t/n))` is IEEE-double math (division and
  // sqrt are both correctly rounded) so both engines gate identically.
  private val p5 = QueryDef(
    "p5_temperature_sample",
    (s, dir) => {
      import graft.operators.Sampling
      val d = docs(s, dir)
      // temperature T=2: thr = floor(1e6·sqrt(min/cnt)), verbatim
      val thr = Sampling.stratumThresholds(d, "source",
        (t, n) => floor(lit(1000000.0) * sqrt(t.cast("double") / n)))
      val kept = d.join(broadcast(thr.select("source", "thr")), "source")
        .filter(Sampling.hashUnitMicro("tsmp", col("doc_id")) < col("thr"))
        .groupBy("source").agg(count(lit(1)).as("kept"))
      thr.select(col("source"), col("cnt").as("n_docs"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
    },
    Some(
      """WITH counts AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |               FROM documents GROUP BY source),
        |tgt AS (SELECT MIN(n_docs) AS t FROM counts),
        |thr AS (SELECT source, n_docs,
        |  CAST(FLOOR(1000000.0 * sqrt(CAST(t AS DOUBLE) / n_docs)) AS BIGINT) AS thr
        |  FROM counts, tgt),
        |kept AS (
        |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS kept
        |  FROM documents d JOIN thr USING (source)
        |  WHERE ('0x' || substr(md5('tsmp:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000 < thr
        |  GROUP BY d.source)
        |SELECT source, n_docs, CAST(COALESCE(kept, 0) AS BIGINT) AS n_kept
        |FROM thr LEFT JOIN kept USING (source) ORDER BY source""".stripMargin))

  // P6 — sequence packing: concatenate documents in deterministic order
  // and chunk at a fixed token budget (256 here) — the pretraining
  // sequence-assembly step. A document's sequence id is
  // floor(tokens-before-it / budget), i.e. the chunk its first token
  // lands in; output is one row per (source, seq_id) with its doc and
  // token counts. The running sum is a window PARTITIONED BY source and
  // ordered by doc_id: packing is sequential by definition, but only
  // WITHIN a source — sources pack in parallel. At 100 TB a single
  // giant source is the p6b regime (Packing.packSequencesSharded:
  // sub-shard by coarse doc_id range, pack, stitch the tails —
  // identical output under this same oracle SQL).
  private val p6 = QueryDef(
    "p6_sequence_pack",
    (s, dir) => graft.operators.Packing.packSequences(
      docs(s, dir).select(col("source"), col("doc_id"),
        size(expr(tokensExpr)).cast("long").as("n_tokens")),
      tokenBudget = 256L),
    Some(
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT source,
        |  CAST(FLOOR(CAST(cum_before AS DOUBLE) / 256) AS BIGINT) AS seq_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
        |FROM c GROUP BY source, seq_id ORDER BY source, seq_id""".stripMargin))

  // P6B — the giant-group form of p6: identical semantics (the oracle
  // IS p6's SQL), but each source is sub-sharded by a coarse doc_id
  // range, shards pack in parallel, and a shard-count-sized summary
  // window stitches the per-shard tails (offset = tokens in earlier
  // shards). One mega-source no longer serializes into one task — the
  // e1b/j1b bucketed-twin pattern applied to sequence packing; wall /
  // worst-task evidence on the 50%-hot documents shape in BENCH_sf1.
  private val p6b = QueryDef(
    "p6b_sequence_pack_sharded",
    (s, dir) => graft.operators.Packing.packSequencesSharded(
      docs(s, dir).select(col("source"), col("doc_id"),
        size(expr(tokensExpr)).cast("long").as("n_tokens")),
      tokenBudget = 256L, shardSpan = 250L),
    Some(
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT source,
        |  CAST(FLOOR(CAST(cum_before AS DOUBLE) / 256) AS BIGINT) AS seq_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
        |FROM c GROUP BY source, seq_id ORDER BY source, seq_id""".stripMargin))

  // X7 — corpus vocabulary: term frequency + document frequency per
  // token. The input to stopword lists, boilerplate detection, and
  // tokenizer/vocab construction. One explode feeds a single hash
  // aggregation keyed on the token — partial (map-side) aggregation
  // absorbs the token-level fan-out inside the scan stage, and the
  // exact distinct-doc count is Spark's standard two-phase
  // count-distinct expansion over (token, doc_id). Output is
  // vocabulary-sized (≪ corpus) at any scale.
  private val x7 = QueryDef(
    "x7_vocab",
    (s, dir) => graft.operators.TextAnalysis.vocabulary(docs(s, dir)),
    Some(
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |  FROM documents)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |FROM tok GROUP BY token ORDER BY token""".stripMargin))

  // P7 — deterministic train/val/test split: the reproducible-split
  // primitive every training corpus needs. A doc's bucket is a salted
  // 60-bit md5 mod 100 — a pure per-row codegen'd expression, so the
  // assignment is identical on any cluster size, any partitioning, any
  // engine, and re-running the pipeline after adding data never moves
  // an existing doc between splits (hash-of-id, not row-number).
  // 90/5/5 by bucket range; output is the per-(source, split) doc and
  // token census. Zero joins; one vocabulary-of-sources-sized
  // aggregation with map-side combine.
  private val p7 = QueryDef(
    "p7_hash_split",
    (s, dir) => {
      docs(s, dir)
        .select(col("source"),
          size(expr(tokensExpr)).cast("long").as("n_tokens"),
          graft.operators.Sampling.splitLabel(col("doc_id")).as("split"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
        .orderBy("source", "split")
    },
    Some(
      """WITH t AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
        |      AS n_tokens,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 100 AS bucket
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM t GROUP BY source, split
        |ORDER BY source, split""".stripMargin))

  // X8 — hashed-feature linear quality classifier (the fastText-style
  // scoring step): each token's weight is a deterministic integer in
  // [-1000, 1000] derived from a salted md5 — standing in for a learned
  // hashed-bag-of-words weight table, which in production broadcasts as
  // a flat array and swaps in via the same expression shape. Weights
  // sum EXACTLY as longs (no fp-order nondeterminism across partitions),
  // and the single final long→double division is correctly rounded, so
  // score bits are engine-independent. Explode keeps a doc's tokens
  // co-partitioned with it, so partial aggregation collapses the
  // token-level fan-out back to one row per doc inside the scan stage —
  // the shuffle moves doc-count rows, not token-count rows, at any
  // corpus size.
  private val x8 = QueryDef(
    "x8_quality_classifier",
    (s, dir) => graft.operators.TextAnalysis.hashedClassifierScore(docs(s, dir)),
    Some(
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(('0x' || substr(md5('qw:' || token), 1, 15))::BIGINT % 2001
        |             - 1000) AS BIGINT) AS raw_score
        |  FROM tok GROUP BY doc_id)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens, raw_score,
        |  ROUND(CAST(raw_score AS DOUBLE) / CAST(n_tokens * 1000 AS DOUBLE), 6)
        |    AS score,
        |  CAST(CASE WHEN raw_score > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM sc ORDER BY doc_id""".stripMargin))

  // P8 — the composed preprocessing funnel: exact-dedup keeper →
  // language gate (x1's marker heuristic) → quality gate (x2's
  // length/diversity rules) → classifier gate (x8's hashed linear
  // score), reported as the cumulative per-stage doc/token census —
  // the one-page "what survived preprocessing" report every corpus
  // build ends with. ONE corpus scan feeds everything: the content
  // hash rides along the exploded token rows, all four per-doc
  // counters come out of a single hash aggregation (explode keeps a
  // doc's tokens co-partitioned, so partials collapse to one row per
  // doc inside the scan stage), the dedup keeper is a
  // min-over-content-hash window (hash-partitioned, never global),
  // and the funnel itself is a single tiny conditional aggregation.
  // No stage re-scans or re-shuffles the corpus.
  private val p8 = QueryDef(
    "p8_funnel",
    (s, dir) => {
      // two-level aggregation instead of countDistinct: the Expand that
      // count-distinct plans would double every exploded token row, and
      // collapsing (doc, token) first also prices the weight md5 per
      // DISTINCT token rather than per occurrence. Both levels partial-
      // combine map-side; raw_score = sum(w*cnt) is the same exact long
      // arithmetic as the per-occurrence sum.
      val perTok = docs(s, dir)
        .select(col("doc_id"), md5(col("text")).as("h"),
          explode(expr(tokensExpr)).as("token"))
        .groupBy("doc_id", "h", "token").agg(count(lit(1)).as("cnt"))
        .withColumn("w",
          pmod(md5Long(concat(lit("qw:"), col("token"))), lit(2001L)) - lit(1000L))
      val perDoc = perTok.groupBy("doc_id", "h").agg(
        sum("cnt").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("token") === "the" || col("token") === "a", col("cnt"))
          .otherwise(lit(0L))).as("n_marker"),
        sum(col("w") * col("cnt")).as("raw_score"))
      val w = Window.partitionBy("h")
      val flags = perDoc
        .withColumn("keeper", col("doc_id") === min("doc_id").over(w))
        .withColumn("lang_ok",
          round(col("n_marker").cast("double") / col("n_tokens"), 6) >= 0.05)
        .withColumn("quality_ok", col("n_tokens") >= 20 &&
          round(col("n_distinct").cast("double") / col("n_tokens"), 6) >= 0.3)
        .withColumn("cls_ok", col("raw_score") > 0)
      def cnt(c: org.apache.spark.sql.Column) =
        sum(when(c, lit(1L)).otherwise(lit(0L)))
      def tok(c: org.apache.spark.sql.Column) =
        sum(when(c, col("n_tokens")).otherwise(lit(0L)))
      val s1 = col("keeper")
      val s2 = s1 && col("lang_ok")
      val s3 = s2 && col("quality_ok")
      val s4 = s3 && col("cls_ok")
      flags.agg(
          count(lit(1)).as("d0"), sum("n_tokens").as("t0"),
          cnt(s1).as("d1"), tok(s1).as("t1"),
          cnt(s2).as("d2"), tok(s2).as("t2"),
          cnt(s3).as("d3"), tok(s3).as("t3"),
          cnt(s4).as("d4"), tok(s4).as("t4"))
        .selectExpr(
          """stack(5,
            |  '0_all', d0, t0,
            |  '1_dedup', d1, t1,
            |  '2_lang', d2, t2,
            |  '3_quality', d3, t3,
            |  '4_classifier', d4, t4) AS (stage, n_docs, n_tokens)""".stripMargin)
        .orderBy("stage")
    },
    Some(
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |    CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS BIGINT)
        |      AS n_marker
        |  FROM t),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(SUM(('0x' || substr(md5('qw:' || token), 1, 15))::BIGINT % 2001
        |             - 1000) AS BIGINT) AS raw_score
        |  FROM (SELECT doc_id, unnest(toks) AS token FROM t) GROUP BY doc_id),
        |f AS (
        |  SELECT c.n_tokens,
        |    c.doc_id = MIN(c.doc_id) OVER (PARTITION BY md5(c.text)) AS keeper,
        |    ROUND(CAST(c.n_marker AS DOUBLE) / c.n_tokens, 6) >= 0.05 AS lang_ok,
        |    c.n_tokens >= 20 AND
        |      ROUND(CAST(c.n_distinct AS DOUBLE) / c.n_tokens, 6) >= 0.3
        |      AS quality_ok,
        |    sc.raw_score > 0 AS cls_ok
        |  FROM c JOIN sc USING (doc_id))
        |SELECT '0_all' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM f
        |UNION ALL
        |SELECT '1_dedup', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT)
        |FROM f WHERE keeper
        |UNION ALL
        |SELECT '2_lang', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT)
        |FROM f WHERE keeper AND lang_ok
        |UNION ALL
        |SELECT '3_quality', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT)
        |FROM f WHERE keeper AND lang_ok AND quality_ok
        |UNION ALL
        |SELECT '4_classifier', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT)
        |FROM f WHERE keeper AND lang_ok AND quality_ok AND cls_ok
        |ORDER BY stage""".stripMargin))

  // D10 — INCREMENTAL exact dedup: the daily-ingest path. A new batch
  // (a deterministic 20% hash slice standing in for "today's crawl")
  // dedups against the EXISTING corpus index — at 100 TB that index is
  // a hash-only table (16 bytes/doc), so the anti-join shuffles hashes,
  // not documents, and both sides equi-partition on content_hash. The
  // within-batch keeper groupBy reuses the anti-join's output
  // partitioning (same key ⇒ zero additional exchange). d1 is the
  // from-scratch build; this is what runs every day after it.
  private val d10 = QueryDef(
    "d10_incremental_dedup",
    (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        md5(col("text")).as("content_hash"),
        (pmod(md5Long(concat(lit("inc:"), col("doc_id").cast("string"))),
          lit(5L)) === 0).as("is_new"))
      val existing = d.filter(!col("is_new")).select("content_hash").distinct()
      d.filter(col("is_new"))
        .join(existing, Seq("content_hash"), "left_anti")
        .groupBy("content_hash")
        .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy("content_hash")
    },
    Some(
      """WITH d AS (
        |  SELECT doc_id, md5(text) AS h,
        |    ('0x' || substr(md5('inc:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 5 = 0 AS is_new
        |  FROM documents),
        |fresh AS (
        |  SELECT doc_id, h FROM d WHERE is_new
        |  AND NOT EXISTS (SELECT 1 FROM d e WHERE NOT e.is_new AND e.h = d.h))
        |SELECT h AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM fresh GROUP BY h ORDER BY content_hash""".stripMargin))

  // X9 — one BPE merge round: adjacent character-pair counts weighted
  // by token frequency — the inner step of byte-pair-encoding tokenizer
  // training (x7's vocab is the input; the REAL iterated trainer is
  // operators/Bpe.trainMerges, gated as x9b/x9c). The pair explosion
  // runs over the VOCABULARY aggregate, not the corpus — tf collapses
  // first, so the expensive per-character fan-out touches |vocab| rows
  // at any corpus size — and the top-k is a TakeOrderedAndProject
  // partial top-k, never a full sort.
  private val x9 = QueryDef(
    "x9_bpe_pairs",
    (s, dir) => {
      docs(s, dir)
        .select(explode(expr(tokensExpr)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("tf"))
        // single-char tokens have no pair (and Spark's sequence(1, 0)
        // would run BACKWARDS — [1, 0] — where DuckDB's range is empty)
        .filter(length(col("token")) >= 2)
        .select(col("tf"), explode(expr(
          "transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(sum("tf").as("n_occurrences"))
        .orderBy(desc("n_occurrences"), asc("pair"))
        .limit(20)
    },
    Some(
      """WITH vocab AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> ''))
        |          AS token FROM documents)
        |  GROUP BY token),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, len(token)), i -> substr(token, i, 2)))
        |    AS pair, tf
        |  FROM vocab WHERE len(token) >= 2)
        |SELECT pair, CAST(SUM(tf) AS BIGINT) AS n_occurrences
        |FROM pairs GROUP BY pair
        |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin))

  // X9B — ITERATED BPE training (operators/Bpe.trainMerges): x9 is one
  // pair-count round; this runs the real tokenizer-training loop — the
  // corpus is scanned ONCE (vocab aggregate), then each of 8 merge
  // rounds is a vocabulary-sized job: pair counts (exact tf sums), a
  // 1-row best-pair reduce (ties on count DESC, pair ASC), and one
  // replace() per vocab row applying the merge. The oracle replays all
  // 8 rounds with chained CTEs ([[OracleSql.bpeChainSql]]) over the
  // same separator-encoded segmentation strings — replace() is
  // non-overlapping left-to-right in both engines, which IS greedy
  // BPE pairing.
  private def bpeVocabDf(s: org.apache.spark.sql.SparkSession, dir: String) =
    docs(s, dir)
      .select(explode(expr(tokensExpr)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))

  /** The 8 trained merges of the x9b chain, collected in rank order —
    * shared by the apply-side entries (x9c vocabulary segmentation,
    * x9d corpus tokenization, p6c BPE-count packing, p13b BPE-budget
    * selection). Cached per (sessionUUID, dir) — the
    * minhashPairsShared contract: fixture dirs are immutable during a
    * run, the value is a tiny driver-side list (8 pairs, nothing
    * pinned on executors), and the cap merely bounds a long-lived
    * driver sweeping many dirs. Training runs OUTSIDE any lock (it is
    * 8 full Spark rounds — a global lock around it would serialize
    * every concurrent query definition; the round-17 advice): two
    * racing callers may both train, putIfAbsent keeps one result, and
    * the loser's duplicate work is bounded by the race window. The
    * key is (dir, [[fixtureStamp]]), NOT the session: the trained
    * merges are a deterministic function of the fixture content alone,
    * so a session key only pinned retired SparkSession objects in the
    * map (the round-17 advice's leak), while the fingerprint component
    * invalidates a regenerated fixture in a long-lived driver. */
  private val mergesCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Seq[(String, String)]]()

  /** Content fingerprint of the fixture the merges were trained on —
    * [[graft.operators.Retrieval.pathFingerprint]], the engine's ONE
    * scan-free corpus fingerprint (recursive (rel-path, size, mtime)
    * walk, canonical order, md5): a bare directory mtime aliases a
    * fixture regenerated within one second (or moved with mtimes
    * preserved, as this repo's slice tooling does) and misses nested
    * part files of a partitioned fixture entirely; "absent" for a
    * missing path never collides with a real stamp. */
  private def fixtureStamp(dir: String): String =
    graft.operators.Retrieval.pathFingerprint(s"$dir/documents.parquet")

  private val dsirLrCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Array[Double]]()

  /** The p17/p17b shared DSIR model — the two entries fit
    * byte-identical (src0-vs-rest, 4096-bucket) log-ratio tables, so
    * the fit runs once per (dir, fixture stamp), the [[trainedMerges]]
    * way: computed OUTSIDE any lock, lock-free putIfAbsent, cleared
    * past 8 fixtures. p17c (different sample mod) and p18 (different
    * corpora) fit their own. */
  private def dsirLrShared(s: SparkSession, dir: String): Array[Double] = {
    val key = (dir, fixtureStamp(dir))
    val cached = dsirLrCache.get(key)
    if (cached != null) return cached
    val d = docs(s, dir)
    val lr = graft.operators.Dsir.importanceLogRatios(
      d.filter(col("source") === "src0"),
      d.filter(col("source") =!= "src0"), buckets = 4096)
    evictOne(dsirLrCache, 8)
    val prior = dsirLrCache.putIfAbsent(key, lr)
    if (prior != null) prior else lr
  }

  /** Drop ONE arbitrary entry when the cache is over `cap` — the
    * round-18 advice on the clear()-based eviction: under concurrent
    * catalog runs a clear() could wipe a sibling's just-inserted
    * table, forcing its expensive fit to re-run; removing a single
    * entry bounds the cache without that cross-thread waste (results
    * stay correct either way — the tables are deterministic). */
  private def evictOne[K, V](
      cache: java.util.concurrent.ConcurrentHashMap[K, V], cap: Int): Unit =
    if (cache.size > cap) {
      val it = cache.keySet().iterator()
      if (it.hasNext) { it.next(); it.remove() }
    }

  private def trainedMerges(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] = {
    val key = (dir, fixtureStamp(dir))
    val cached = mergesCache.get(key)
    if (cached != null) return cached
    val trained =
      graft.operators.Bpe.trainMerges(bpeVocabDf(s, dir), nMerges = 8)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
    evictOne(mergesCache, 8)
    val prior = mergesCache.putIfAbsent(key, trained)
    if (prior != null) prior else trained
  }

  private val x9b = QueryDef(
    "x9b_bpe_train",
    (s, dir) =>
      graft.operators.Bpe.trainMerges(bpeVocabDf(s, dir), nMerges = 8)
        .orderBy("round"),
    Some(OracleSql.bpeChainSql(8) + "\n" +
      (1 to 8).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS round, l AS "left", r AS "right",
           |  l || r AS merged, cnt AS n_occurrences FROM b$r""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY round")))

  // X9C — the APPLY side of the trainer under the oracle: segment the
  // vocabulary with the 8 trained merges (in trained order — BPE
  // applies merges by rank) and report each surviving symbol's exact
  // tf-weighted occurrence count — the pre-tokenization census a
  // tokenizer build ends with. The oracle reuses the training chain's
  // final segmentation state s8 directly; Spark re-derives it through
  // Bpe.applyMerges, so train → apply round-trips end-to-end.
  private val x9c = QueryDef(
    "x9c_bpe_segment",
    (s, dir) => {
      graft.operators.Bpe.applyMerges(bpeVocabDf(s, dir),
          trainedMerges(s, dir))
        .select(explode(col("symbols")).as("symbol"), col("tf"))
        .groupBy("symbol").agg(sum("tf").as("n_occurrences"))
        .orderBy("symbol")
    },
    Some(OracleSql.bpeChainSql(8) +
      s""",
         |sym8 AS (
         |  SELECT tf, unnest(string_split(substr(seg, 2, length(seg) - 2),
         |    chr(31) || chr(31))) AS symbol
         |  FROM s8)
         |SELECT symbol, CAST(SUM(tf) AS BIGINT) AS n_occurrences
         |FROM sym8 GROUP BY symbol ORDER BY symbol""".stripMargin))

  // X9D — CORPUS tokenization with the trained merges (the consumer
  // x9b/x9c were missing: nothing applied the tokenizer to documents):
  // every document's whitespace tokens are segmented with the 8 trained
  // merges in rank order, emitting the per-doc BPE token count — the
  // number packing (p6c) and token-budget selection should consume
  // instead of whitespace counts. One corpus scan, one codegen'd
  // replace per merge over a record-separator-joined doc encoding
  // (merges provably cannot cross token boundaries — Bpe.RecordSep
  // Scaladoc), zero shuffle. The oracle replays the same chain: ds0
  // encodes documents, ds1..ds8 apply b1..b8, and the symbol count is
  // pure separator arithmetic (every unit carries exactly two chr(31)).
  private val x9d = QueryDef(
    "x9d_bpe_tokenize",
    (s, dir) =>
      graft.operators.Bpe.tokenizeCorpus(docs(s, dir), trainedMerges(s, dir))
        .orderBy("doc_id"),
    Some(OracleSql.bpeDocChainSql(8) +
      """
        |SELECT doc_id, n_tokens,
        |  CAST((length(seg) - length(replace(seg, chr(31), ''))) // 2
        |    AS BIGINT) AS n_bpe_tokens
        |FROM ds8 ORDER BY doc_id""".stripMargin))

  // P6C — sequence packing on REAL tokenizer counts: p6's fixed-budget
  // pack keyed on each doc's BPE token count instead of its whitespace
  // count. The count side is Bpe.tokenCountsViaVocab — the SCALE form:
  // the merge chain runs once per vocabulary TYPE (applyMerges,
  // vocabulary-sized) and the corpus pass is an explode + size-gated
  // vocab join + doc-keyed re-sum — so this entry gates the via-vocab
  // path under DuckDB while x9d gates the direct rewrite (BpeSpec pins
  // the two equal). The oracle replays the doc chain and p6's exact
  // packing SQL over the resulting counts.
  private val p6c = QueryDef(
    "p6c_sequence_pack_bpe",
    (s, dir) =>
      graft.operators.Packing.packSequences(
        graft.operators.Bpe.tokenCountsViaVocab(docs(s, dir),
            trainedMerges(s, dir), keepCols = Seq("source"))
          .select(col("source"), col("doc_id"),
            col("n_bpe_tokens").as("n_tokens")),
        tokenBudget = 256L),
    Some(OracleSql.bpeDocChainSql(8, "source") +
      """,
        |cnt AS (
        |  SELECT source, doc_id,
        |    CAST((length(seg) - length(replace(seg, chr(31), ''))) // 2
        |      AS BIGINT) AS n_tokens
        |  FROM ds8),
        |pc AS (
        |  SELECT source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM cnt)
        |SELECT source,
        |  CAST(FLOOR(CAST(cum_before AS DOUBLE) / 256) AS BIGINT) AS seq_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
        |FROM pc GROUP BY source, seq_id ORDER BY source, seq_id""".stripMargin))

  // E5 — ordered conversion funnel over the event stream: users who
  // progressed click → view → purchase IN TIMESTAMP ORDER (stage k
  // counts only events at-or-after the user's first stage-(k−1)
  // completion; ties break on event_id like e1). Cascaded conditional
  // running-mins share ONE window spec — one shuffle of the events
  // table (Sessionization.funnel; this entry is the 3-stage default
  // the oracle gates).
  private val e5 = QueryDef(
    "e5_conversion_funnel",
    (s, dir) => graft.operators.Sessionization.funnel(
      Records.table(s, dir, "events"),
      stages = Seq("click" -> "1_click", "view" -> "2_view_after_click",
        "purchase" -> "3_purchase_after_view"),
      activeLabel = "0_active"),
    Some(
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'click' THEN us END) OVER w AS c
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                      ROWS UNBOUNDED PRECEDING)),
        |s2 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'view' AND c IS NOT NULL
        |                     THEN us END) OVER w AS v
        |  FROM s1 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                       ROWS UNBOUNDED PRECEDING)),
        |s3 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND v IS NOT NULL
        |                     THEN us END) OVER w AS p
        |  FROM s2 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                       ROWS UNBOUNDED PRECEDING)),
        |per_user AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS clicked,
        |    MAX(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS viewed,
        |    MAX(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS purchased
        |  FROM s3 GROUP BY user_id)
        |SELECT stage, n_users FROM (
        |  SELECT '0_active' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM per_user
        |  UNION ALL
        |  SELECT '1_click', CAST(SUM(clicked) AS BIGINT) FROM per_user
        |  UNION ALL
        |  SELECT '2_view_after_click', CAST(SUM(viewed) AS BIGINT) FROM per_user
        |  UNION ALL
        |  SELECT '3_purchase_after_view', CAST(SUM(purchased) AS BIGINT)
        |  FROM per_user)
        |ORDER BY stage""".stripMargin))

  // E5B — the HOT-KEY-SAFE funnel: identical semantics (and oracle) to
  // e5 via the PSEUDO-EVENT REDUCTION, generalized to any stage chain
  // in Sessionization.funnelBucketed (witness-set design + correctness
  // argument in its Scaladoc; e5's three chained per-user running-mins
  // serialize on one bot user — measured 14.5 s worst task on the
  // 50%-hot fixture — while the reduction bounds the hot user at
  // ~n(n+1)/2 rows per 6-h bucket). FunnelProps pins e5b == e5 on
  // random boundary-heavy timelines.
  private val e5b = QueryDef(
    "e5b_funnel_bucketed",
    (s, dir) => graft.operators.Sessionization.funnelBucketed(
      Records.table(s, dir, "events"),
      stages = Seq("click" -> "1_click", "view" -> "2_view_after_click",
        "purchase" -> "3_purchase_after_view"),
      activeLabel = "0_active", bucketSeconds = 21600L),
    e5.oracle)

  // E5C — 4-STAGE funnel (signup → click → view → purchase) through
  // the BUCKETED form: the N-stage generalization of the pseudo-event
  // reduction (Sessionization.funnelBucketed — witnesses w(j,k), 10
  // per (user, bucket) at n=4) under the DuckDB oracle, not just the
  // FunnelProps brute-force pin. The oracle is the naive 4-chain of
  // global running-mins; the engine never runs an unpartitioned
  // corpus-sized window.
  private val e5c = QueryDef(
    "e5c_funnel_4stage",
    (s, dir) => graft.operators.Sessionization.funnelBucketed(
      Records.table(s, dir, "events"),
      stages = Seq("signup" -> "1_signup", "click" -> "2_click_after_signup",
        "view" -> "3_view_after_click", "purchase" -> "4_purchase_after_view"),
      activeLabel = "0_active", bucketSeconds = 21600L),
    Some(
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'signup' THEN us END) OVER w AS m0
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                      ROWS UNBOUNDED PRECEDING)),
        |s2 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'click' AND m0 IS NOT NULL
        |                     THEN us END) OVER w AS m1
        |  FROM s1 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                       ROWS UNBOUNDED PRECEDING)),
        |s3 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'view' AND m1 IS NOT NULL
        |                     THEN us END) OVER w AS m2
        |  FROM s2 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                       ROWS UNBOUNDED PRECEDING)),
        |s4 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND m2 IS NOT NULL
        |                     THEN us END) OVER w AS m3
        |  FROM s3 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                       ROWS UNBOUNDED PRECEDING)),
        |per_user AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN m0 IS NOT NULL THEN 1 ELSE 0 END) AS f0,
        |    MAX(CASE WHEN m1 IS NOT NULL THEN 1 ELSE 0 END) AS f1,
        |    MAX(CASE WHEN m2 IS NOT NULL THEN 1 ELSE 0 END) AS f2,
        |    MAX(CASE WHEN m3 IS NOT NULL THEN 1 ELSE 0 END) AS f3
        |  FROM s4 GROUP BY user_id)
        |SELECT stage, n_users FROM (
        |  SELECT '0_active' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM per_user
        |  UNION ALL
        |  SELECT '1_signup', CAST(SUM(f0) AS BIGINT) FROM per_user
        |  UNION ALL
        |  SELECT '2_click_after_signup', CAST(SUM(f1) AS BIGINT) FROM per_user
        |  UNION ALL
        |  SELECT '3_view_after_click', CAST(SUM(f2) AS BIGINT) FROM per_user
        |  UNION ALL
        |  SELECT '4_purchase_after_view', CAST(SUM(f3) AS BIGINT) FROM per_user)
        |ORDER BY stage""".stripMargin))

  // X10 — per-document top keywords, TF-IDF-shaped (thin call:
  // operators/Indexing.topKeywords — one shared (doc, token) shuffle
  // subtree, broadcast vocabulary, exact-integer scoring; design notes
  // in the operator Scaladoc).
  private val x10 = QueryDef(
    "x10_top_keywords",
    (s, dir) => graft.operators.Indexing.topKeywords(docs(s, dir)),
    Some(
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM tok GROUP BY token),
        |tf AS (
        |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY doc_id, token),
        |scored AS (
        |  SELECT doc_id, token, tf, df, tf * 1000000 // df AS score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |                       ORDER BY tf * 1000000 // df DESC, token) AS rank
        |  FROM tf JOIN vocab USING (token))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rank AS BIGINT) AS rank,
        |  token, tf, df, CAST(score AS BIGINT) AS score
        |FROM scored WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin))

  // D11 — QUALITY-AWARE KEEPER: d9 keeps the minimum doc_id per dup
  // cluster; production pipelines keep the BEST document (longest /
  // highest-quality — n_chars is the stand-in signal here, the same
  // join shape takes x8's classifier score). Decorrelated argmax in two
  // cluster_id-keyed aggregates (max length, then min doc_id among the
  // tied best — a portable total order both engines compute exactly,
  // where a float score tie-break could hash-diverge), so every step
  // reuses one cluster_id shuffle family and per-cluster state is two
  // scalars — no per-cluster sort, no collect.
  private val d11 = QueryDef(
    "d11_quality_keeper",
    (s, dir) => {
      val assigned = clusterAssignments(s, dir)
        .join(docs(s, dir).select(col("doc_id").cast("long").as("doc_id"),
          col("n_chars").cast("long").as("n_chars")), "doc_id")
      val best = assigned.groupBy("cluster_id")
        .agg(max("n_chars").as("best_chars"))
      val keepers = assigned.join(best, "cluster_id")
        .filter(col("n_chars") === col("best_chars"))
        .groupBy("cluster_id").agg(min("doc_id").as("keeper_id"))
      assigned.join(keepers, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("n_chars"),
          (col("doc_id") === col("keeper_id")).cast("long").as("is_keeper"))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH RECURSIVE $clusterSqlCtes,
         |withc AS (
         |  SELECT a.doc_id, a.cluster_id, CAST(d.n_chars AS BIGINT) AS n_chars
         |  FROM asg a JOIN documents d ON d.doc_id = a.doc_id),
         |best AS (SELECT cluster_id, MAX(n_chars) AS best_chars
         |         FROM withc GROUP BY cluster_id),
         |keep AS (SELECT w.cluster_id, MIN(w.doc_id) AS keeper_id
         |         FROM withc w JOIN best b ON w.cluster_id = b.cluster_id
         |           AND w.n_chars = b.best_chars
         |         GROUP BY w.cluster_id)
         |SELECT w.doc_id, w.cluster_id, w.n_chars,
         |  CAST(CASE WHEN w.doc_id = k.keeper_id THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_keeper
         |FROM withc w JOIN keep k USING (cluster_id)
         |ORDER BY w.doc_id""".stripMargin))

  // D15 — BOILERPLATE REMOVAL: passage-level dedup ACROSS documents
  // (the CCNet/RefinedWeb line-dedup step — headers, footers, cookie
  // banners repeat verbatim across a crawl and must be cut from inside
  // otherwise-unique documents, which doc-level dedup d1–d5 cannot do).
  // Each document is segmented into fixed 3-token passages; a passage's
  // document frequency is counted corpus-wide; passages appearing in
  // ≥ 5 distinct documents are boilerplate and removed in place, the
  // survivors re-joined in original order.
  //
  // Shape at 100 TB: the DF count is a two-level aggregate (distinct
  // (passage, doc) pairs partial-agg away duplicates inside a doc,
  // then a passage-keyed count), and the boilerplate SET — passages in
  // ≥ K docs — is orders of magnitude smaller than the corpus (bounded
  // by total_passages / K), so it collapses to a single broadcast
  // array. The output pass then never shuffles: one scan re-segments
  // and filters each row's passage array with a codegen'd higher-order
  // `filter` against the broadcast set, preserving order for free —
  // no explode, no join, no doc_id re-aggregation exchange on the
  // corpus-sized side. Two scans + zero corpus shuffles beats one scan
  // + explode + passage-join + reassembly shuffle (the explode form
  // also needs a corpus-wide groupBy(doc_id) whose collect_list state
  // is document-sized). If the boilerplate set ever outgrew a
  // broadcast, the fallback is the p4 move: a Bloom pre-filter at the
  // scan plus an exact anti-join for survivors only. The probe is the
  // codegen'd `array_except_sorted` kernel ([[graft.functions
  // .ArrayExceptSorted]]): `sort_array` already emits the boiler set
  // in ascending UTF8String order, so each row costs
  // |chunks|·log|boiler| byte-wise comparisons in one static call per
  // row — vs the interpreted per-element `filter` lambda whose
  // `array_contains` makes a dense boilerplate set quadratic.
  // D16 — cross-document repeated-SPAN census (Dedup.spanDuplicates:
  // the exact-substring dedup primitive of Lee et al. 2022): every
  // 8-token window hashed in-row, deterministic 1/4 hash sample
  // (sampleMod=4 — the 100-TB knob exercised under the oracle: span
  // COVERAGE is sampled, per-span counts stay exact), census of spans
  // occurring ≥ 2×, top-100 by (n_occurrences DESC, span_h). The only
  // shuffle keys are span hashes, sample filter inside the scan stage.
  private val d16 = QueryDef(
    "d16_span_dups",
    (s, dir) => {
      // d15's CPU-parallelism floor: ~100 md5-of-slice kernels per doc
      // dwarf the scan, and a compact few-row-group fixture hands that
      // stage to 1-2 cores (measured: 24.6 s single task of a 27.4 s
      // wall at 30x). No-op when the corpus already scans wide.
      val raw = docs(s, dir)
      val width = s.sparkContext.defaultParallelism
      val balanced =
        if (raw.rdd.getNumPartitions < width) raw.repartition(width) else raw
      graft.operators.Dedup.spanDuplicates(
          balanced, spanTokens = 8, sampleMod = 4)
        .orderBy(desc("n_occurrences"), asc("span_h"))
        .limit(100)
    },
    Some(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts) - 8 + 2),
        |    i -> md5(array_to_string(ts[i:i+7], ' ')))) AS span_h
        |  FROM t WHERE len(ts) >= 8),
        |samp AS (
        |  SELECT * FROM sp
        |  WHERE ('0x' || substr(span_h, 1, 15))::BIGINT % 4 = 0)
        |SELECT span_h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |FROM samp GROUP BY span_h HAVING COUNT(*) >= 2
        |ORDER BY n_occurrences DESC, span_h LIMIT 100""".stripMargin))

  // D17 — the ACTION pass of exact-substring dedup (the consumer d16's
  // census was missing — census → rewrite, the same pairs → clusters →
  // keeper completion d6/d9/d11 gave the MinHash family): every
  // 8-token span occurring ≥ 2 times is cut from the corpus EXCEPT its
  // first occurrence (min (doc_id, pos)), per Lee et al. 2022 —
  // keep-first preserves one copy of duplicated material and the
  // unique remainder of every document, where doc-level dropping would
  // destroy it. The flagged set ships as ONE sorted array LITERAL
  // riding the task binary (a joined constant-array column is
  // memcpy'd per corpus row by the join's UnsafeRow materialization —
  // measured 10×; see Dedup.spanDedupCorpus), keeper positions
  // broadcast-join per doc, and the output pass is one corpus scan
  // with the codegen'd `span_cut` kernel — zero corpus shuffle. The
  // oracle replays the census, the keep-first rule and the
  // token-coverage cut relationally.
  private val d17 = QueryDef(
    "d17_span_dedup",
    (s, dir) => {
      val d = docs(s, dir)
      val census = graft.operators.Dedup.spanCensusWithFirst(
        d, spanTokens = 8)
      graft.operators.Dedup.spanDedupCorpus(d, census, spanTokens = 8)
        .orderBy("doc_id")
    },
    Some(OracleSql.spanDedupSql(8)))

  // D17B — the BLOOM mode of the same action pass, forced below its
  // ceiling (maxLiteralFlagged = 0) so the 100-TB path — Bloom
  // pre-filter at the scan, exact census join resolving false
  // positives and keepers, positional rewrite — runs under the SAME
  // oracle as the literal mode (output equality is the contract;
  // SpanDedupSpec fuzz-pins it, this entry gates it cross-engine).
  private val d17b = QueryDef(
    "d17b_span_dedup_bloom",
    (s, dir) => {
      val d = docs(s, dir)
      val census = graft.operators.Dedup.spanCensusWithFirst(
        d, spanTokens = 8)
      graft.operators.Dedup.spanDedupCorpus(d, census, spanTokens = 8,
          maxLiteralFlagged = 0L)
        .orderBy("doc_id")
    },
    Some(OracleSql.spanDedupSql(8)))

  // D17C — the SAMPLED action pass: census-with-first under the same
  // deterministic 1/4 digest gate d16 exercises (span COVERAGE is
  // sampled, counts and first positions stay exact — the
  // position-carrying span_hashes_pos kernel keeps real token
  // positions through the gate), then the standard rewrite: only
  // sampled flagged spans exist to match, so the pass cuts exactly
  // the sampled duplicates. This is the 100-TB form of d17 — the
  // sampling lever that holds the census exchange flat now reaches
  // the ACTION pass too. The oracle folds the gate into d17's SQL.
  private val d17c = QueryDef(
    "d17c_span_dedup_sampled",
    (s, dir) => {
      val d = docs(s, dir)
      val census = graft.operators.Dedup.spanCensusWithFirst(
        d, spanTokens = 8, sampleMod = 4L)
      graft.operators.Dedup.spanDedupCorpus(d, census, spanTokens = 8)
        .orderBy("doc_id")
    },
    Some(OracleSql.spanDedupSql(8, sampleMod = 4L)))

  private val d15 = QueryDef(
    "d15_boilerplate_removal",
    (s, dir) => {
      // CPU-parallelism floor: segmentation + chunk-DF partials are an
      // order of magnitude more CPU than the scan, and scan task count
      // follows INPUT SPLITS — a compact few-row-group input (the
      // single-file fixture; any small well-compacted corpus) hands the
      // whole chunking stage to 1-2 cores (measured: 7.4 s straggler at
      // 10x on a 5.8 MB single-row-group file). One narrow (doc_id,
      // text) shuffle buys full-width CPU for both consumers of `seg`
      // (ReuseExchange shares it); when the corpus already scans wide —
      // the 100 TB case — the branch is a no-op and the zero-corpus-
      // shuffle property holds as designed.
      val raw = docs(s, dir)
      val width = s.sparkContext.defaultParallelism
      val balanced =
        if (raw.rdd.getNumPartitions < width) raw.repartition(width) else raw
      val seg = balanced
        .withColumn("ts", expr(tokensExpr))
        .filter(size(col("ts")) > 0)
        .withColumn("chunks",
          expr("transform(sequence(0, cast(ceil(size(ts) / 3.0) as int) - 1)," +
            " p -> array_join(slice(ts, p*3 + 1, 3), ' '))"))
      // explode_outer, NOT explode: InferFiltersFromGenerate would add
      // `size(chunks) > 0 AND isnotnull(chunks)` above the chunking
      // projection and predicate-pushdown then sinks it BELOW the
      // repartition exchange, substituting the whole tokenize+chunk
      // expression — 3 recomputations per row in the narrow scan stage
      // (measured: the entire 8 s straggler). The outer variant infers
      // nothing; the explicit isNotNull above the exchange is free
      // (chunks of a non-empty token list is never empty).
      // The boiler set ships as a sorted array LITERAL (task-binary
      // broadcast, referenced once per task) — the earlier
      // crossJoin(broadcast(1-row-array)) form attached it as a COLUMN
      // and the join's UnsafeRow materialization memcpy'd the whole
      // set per corpus row (the d17 lesson: corpus × |set| bytes;
      // measured 10× on a 155k-entry set). Costs one extra narrow
      // shuffle (the boiler aggregation is its own query now) — the
      // right trade the moment the set is non-trivial.
      val boilerArr: Seq[String] = seg
        .select(col("doc_id"), explode_outer(col("chunks")).as("chunk"))
        .filter(col("chunk").isNotNull)
        .distinct()
        .groupBy("chunk").agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 5)
        .agg(sort_array(collect_list("chunk")).as("boiler"))
        .head().getSeq[String](0)
      seg
        .withColumn("kept", call_function("array_except_sorted",
          col("chunks"), lit(boilerArr.toArray)))
        .select(col("doc_id"),
          size(col("chunks")).cast("long").as("n_chunks"),
          size(col("kept")).cast("long").as("n_kept"),
          array_join(col("kept"), " ").as("kept_text"))
        .orderBy("doc_id")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |seg AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0, CAST(ceil(len(ts)/3.0) AS INT) - 1),
        |      p -> array_to_string(ts[p*3+1 : p*3+3], ' ')) AS chunks
        |  FROM toks WHERE len(ts) > 0),
        |freq AS (
        |  SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs
        |  FROM (SELECT doc_id, unnest(chunks) AS chunk FROM seg) GROUP BY chunk),
        |bl AS (SELECT COALESCE(list(chunk ORDER BY chunk), []) AS boiler
        |       FROM freq WHERE n_docs >= 5)
        |SELECT doc_id,
        |  CAST(len(chunks) AS BIGINT) AS n_chunks,
        |  CAST(len(list_filter(chunks, c -> NOT list_contains(bl.boiler, c)))
        |    AS BIGINT) AS n_kept,
        |  array_to_string(list_filter(chunks, c -> NOT list_contains(bl.boiler, c)),
        |    ' ') AS kept_text
        |FROM seg, bl ORDER BY doc_id""".stripMargin))

  // X11 — INVERTED INDEX build: token → (df, first-20 posting list)
  // (thin call: operators/Indexing.invertedIndex — WindowGroupLimit
  // bounds per-token state BEFORE any list materializes; design notes
  // in the operator Scaladoc). x11b is the hot-token-sharded
  // production form: same oracle, per-token work spread over 8 shards.
  private val x11 = QueryDef(
    "x11_inverted_index",
    (s, dir) => graft.operators.Indexing.invertedIndex(docs(s, dir)),
    Some(
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |    FROM documents))
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
        |  array_to_string((list(CAST(doc_id AS BIGINT) ORDER BY doc_id))[1:20],
        |    ',') AS postings
        |FROM tok GROUP BY token ORDER BY token""".stripMargin))

  // X11B — the HOT-TOKEN-SHARDED inverted index (thin call:
  // operators/Indexing.invertedIndexSharded — two-level top-k over 8
  // doc-space hash shards, both levels WindowGroupLimit-bounded; design
  // notes in the operator Scaladoc). Oracle is byte-identical to
  // x11's — the sharding must be invisible.
  private val x11b = QueryDef(
    "x11b_inverted_sharded",
    (s, dir) => graft.operators.Indexing.invertedIndexSharded(docs(s, dir)),
    Some(
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |    FROM documents))
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
        |  array_to_string((list(CAST(doc_id AS BIGINT) ORDER BY doc_id))[1:20],
        |    ',') AS postings
        |FROM tok GROUP BY token ORDER BY token""".stripMargin))

  // X12 — KMV DISTINCT-COUNT SKETCH vs exact, per language (thin call:
  // operators/Sketching.kmvDistinctWithExact — exactly-reproducible
  // bottom-k over a shared md5 hash, unlike HLL whose registers can
  // never hash-gate; design notes in the operator Scaladoc). x13 is
  // the sketch-only production form via the bottom_k_distinct
  // partial aggregate.
  private val x12 = QueryDef(
    "x12_kmv_distinct",
    (s, dir) => graft.operators.Sketching.kmvDistinctWithExact(
      docs(s, dir), groupCol = "lang"),
    Some(
      s"""WITH $shingledSql,
         |hs AS (
         |  SELECT DISTINCT d.lang,
         |    ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(ws) AS w FROM shf) sw
         |  JOIN documents d USING (doc_id)),
         |stats AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS exact
         |          FROM hs GROUP BY lang),
         |kth AS (SELECT lang, h AS h_k FROM (
         |    SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h)
         |      AS rn FROM hs)
         |  WHERE rn = 64)
         |SELECT s.lang, s.exact,
         |  CAST(CASE WHEN k.h_k IS NULL THEN s.exact
         |       ELSE FLOOR(63.0 * 1152921504606846976.0 / k.h_k) END AS BIGINT)
         |    AS kmv_est,
         |  ROUND(CAST(ABS(CAST(CASE WHEN k.h_k IS NULL THEN s.exact
         |       ELSE FLOOR(63.0 * 1152921504606846976.0 / k.h_k) END AS BIGINT)
         |       - s.exact) AS DOUBLE) / s.exact, 4) AS err
         |FROM stats s LEFT JOIN kth k USING (lang)
         |ORDER BY s.lang""".stripMargin))

  // P9 — MIXTURE WEIGHTS: the data-mixing stage that sits between
  // per-source curation and training — given per-source token masses and
  // an equal-share target mix, emit each source's sampling weight
  // (min(1, share/tokens): downsample what's over-represented) and its
  // implied epoch count (share/tokens unclamped: >1 means the mix
  // upsamples that source by repetition). One corpus aggregation + a
  // 1-row broadcast total — the p1 shape; the decision table this emits
  // is what p1-style samplers consume as their thresholds. Divisions are
  // written identically on both engines (long/long → IEEE double,
  // left-to-right), so the gate hashes the doubles exactly.
  private val p9 = QueryDef(
    "p9_mixture_weights",
    (s, dir) => graft.operators.Sampling.mixtureWeights(
      docs(s, dir)
        .select(col("source"), expr(s"size($tokensExpr)").cast("long").as("ntok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("ntok").as("tokens"))),
    Some(
      """WITH per AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> '')))
        |         AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tt,
        |               CAST(COUNT(*) AS BIGINT) AS ns FROM per)
        |SELECT source, n_docs, tokens,
        |  CASE WHEN tokens > 0
        |    THEN ROUND(LEAST(1.0, CAST(tt AS DOUBLE) / ns / tokens), 4)
        |  END AS weight,
        |  CASE WHEN tokens > 0
        |    THEN ROUND(CAST(tt AS DOUBLE) / ns / tokens, 4)
        |  END AS epochs
        |FROM per, tot ORDER BY source""".stripMargin))

  // X13 — the PRODUCTION form of x12's KMV sketch (thin call:
  // operators/Sketching.kmvBottomK — the bottom_k_distinct
  // TypedImperativeAggregate ships exactly k longs per group, O(k)
  // state end-to-end, no distinct pass, no window; the DuckDB oracle
  // proves the aggregate's update/serialize/merge path against an
  // independent engine. Design notes in the operator Scaladoc).
  private val x13 = QueryDef(
    "x13_kmv_bottomk",
    (s, dir) => graft.operators.Sketching.kmvBottomK(
      docs(s, dir), groupCol = "source"),
    Some(
      s"""WITH $shingledSql,
         |hs AS (
         |  SELECT DISTINCT d.source,
         |    ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(ws) AS w FROM shf) sw
         |  JOIN documents d USING (doc_id)),
         |ranked AS (
         |  SELECT source, h,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
         |  FROM hs),
         |sz AS (SELECT source, CAST(LEAST(COUNT(*), 64) AS BIGINT)
         |         AS sketch_size FROM hs GROUP BY source),
         |kth AS (SELECT source, h AS h_k FROM ranked WHERE rn = 64)
         |SELECT s.source, s.sketch_size,
         |  CAST(CASE WHEN k.h_k IS NULL THEN s.sketch_size
         |       ELSE FLOOR(63.0 * 1152921504606846976.0 / k.h_k) END AS BIGINT)
         |    AS kmv_est
         |FROM sz s LEFT JOIN kth k USING (source)
         |ORDER BY s.source""".stripMargin))

  // X14 — BIGRAM-LM SELF-PERPLEXITY (the CCNet/KenLM-style quality
  // filter): train an add-one-smoothed bigram model on the corpus
  // itself, then score every document by exp(−avg ln p(w_i | w_{i−1}))
  // — rare constructions score high, boilerplate low; thresholding ppl
  // is the classic pretraining-data quality gate. Two corpus scans by
  // design (train, then score — the model must see the whole corpus
  // before the first document can be scored): the build pass is ONE
  // scan (bigram counts persisted while the tiny probs table derives
  // from them; prev-totals and the vocabulary come from the MODEL, not
  // another scan — every token position appears as a bigram's prev or
  // cur, so distinct(prev ∪ cur) IS the corpus vocabulary), the probs
  // table is materialized to session-temp parquet (d9's pattern:
  // nothing stays pinned, survives executor loss), and scoring is one
  // scan + a BROADCAST model join + a per-doc partial-agged average —
  // at 100 TB the model is vocab²-sized metadata, never corpus-sized.
  // Float gate: per-doc avg of ≤99 ln terms then exp — engine ulp
  // differences land ~1e-14 relative, far inside the driver's 9
  // significant digits (same envelope x8's logistic already passes).
  private val x14 = QueryDef(
    "x14_perplexity",
    (s, dir) =>
      graft.operators.LanguageModel.bigramPerplexity(docs(s, dir)),
    Some(
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |    i -> {'prev': ts[i], 'cur': ts[i + 1]})) AS b
        |  FROM toks WHERE len(ts) >= 2),
        |bgf AS (SELECT doc_id, b.prev AS prev, b.cur AS cur FROM bg),
        |model AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cnt
        |          FROM bgf GROUP BY 1, 2),
        |ptot AS (SELECT prev, SUM(cnt) AS tot FROM model GROUP BY 1),
        |vocab AS (SELECT COUNT(*) AS v FROM
        |  (SELECT prev AS t FROM model UNION SELECT cur FROM model)),
        |scored AS (
        |  SELECT f.doc_id, ln((m.cnt + 1.0) / (p.tot + vocab.v)) AS lp
        |  FROM bgf f
        |  JOIN model m USING (prev, cur)
        |  JOIN ptot p USING (prev)
        |  CROSS JOIN vocab)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  exp(-AVG(lp)) AS ppl
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // P10 — WEIGHTED PRIORITY SAMPLE (Duffield/Lund/Thorup): keep the K
  // documents with the smallest priority u/w — longer (higher-weight)
  // docs are proportionally likelier to survive, the weighted subsample
  // every curation pipeline draws when it can't keep the whole corpus.
  // Determinism is engineered like p1: u is a salted 32-bit md5 hash of
  // the doc id, and the priority is the EXACT integer floor(u·2^20 / w)
  // (products stay under 2^52 — no float rounding an engine could
  // disagree on), tie-broken by doc_id. The scale path is the same as
  // every top-k here: orderBy+limit ⇒ TakeOrderedAndProject, a partial
  // per-partition top-K then a K-sized merge — the corpus is never
  // globally sorted.
  private val p10 = QueryDef(
    "p10_priority_sample",
    (s, dir) => graft.operators.Sampling.prioritySample(
        docs(s, dir)
          .select(col("doc_id").cast("long").as("doc_id"),
            col("n_chars").cast("long").as("w")),
        k = 200)
      .select(col("doc_id"), col("w"), col("pri")),
    Some(
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(n_chars AS BIGINT) AS w,
        |  ((('0x' || substr(md5('pri:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % 4294967296) * 1048576) // n_chars AS pri
        |FROM documents
        |WHERE n_chars > 0
        |ORDER BY pri, doc_id LIMIT 200""".stripMargin))

  // P11 — overlapping-window chunking: every long-context training
  // pipeline re-cuts documents into fixed-width windows with overlap
  // (stride < width) before tokenization/packing. One generator
  // expression per row — `sequence` builds the stride index list and
  // `explode` fans out, all inside whole-stage codegen, zero shuffle
  // (the final ORDER BY is presentation-only; production writes
  // unsorted). Chunk identity is the md5 of the substring — stable
  // across engines — so downstream exact-dedup (d1) composes directly.
  // Width 400 / stride 300 chars; an empty or short doc yields exactly
  // one chunk.
  private val p11 = QueryDef(
    "p11_chunk_overlap",
    (s, dir) => graft.operators.Packing.chunkOverlapping(
      docs(s, dir), width = 400, stride = 300),
    Some(
      """WITH ch AS (
        |  SELECT doc_id, text, unnest(generate_series(0,
        |    CAST(floor((greatest(length(text), 1) - 1) / 300) AS BIGINT)))
        |    AS chunk_idx
        |  FROM documents)
        |SELECT doc_id, chunk_idx,
        |  CAST(length(substring(text, CAST(chunk_idx*300+1 AS INT), 400))
        |    AS BIGINT) AS chunk_len,
        |  md5(substring(text, CAST(chunk_idx*300+1 AS INT), 400)) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin))

  // P12 — TRAINING-ORDER SHUFFLE: the last step before tokenization —
  // a deterministic global shuffle that fixes the exact order examples
  // will be consumed in, reproducibly. Each doc gets a salted content-id
  // hash; shard = hash mod N, within-shard order = (hash, doc_id). The
  // order depends only on doc ids — never on partitioning, cluster
  // size, or scan order — so two runs (or two clusters) produce
  // byte-identical shard files, which is what makes training runs
  // repeatable and resumable. At 100 TB, N scales with the corpus
  // (fixed ~1-GiB shards, N ≈ corpus/shard_bytes, tens of thousands),
  // so the per-shard sort is one task's work: physically this is
  // repartition-by-shard + sortWithinPartitions at the writer — a
  // single corpus shuffle, no global sort. The rank materialized here
  // (row_number per shard) is the oracle-checkable form of that
  // write-side ordering; 16 shards stand in for N at fixture scale.
  private val p12 = QueryDef(
    "p12_training_order",
    (s, dir) => graft.operators.Packing.trainingOrder(
      docs(s, dir), nShards = 16),
    Some(
      """WITH h AS (SELECT doc_id,
        |  ('0x' || substr(md5('ord:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    AS h
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(h % 16 AS BIGINT) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY h % 16 ORDER BY h, doc_id)
        |    AS BIGINT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin))

  // X15 — BM25 TOP-K RETRIEVAL: score a fixed query set against the
  // corpus with Okapi BM25 (k1 = 1.2, b = 0.75, Lucene's always-positive
  // idf = ln((N − df + ½)/(df + ½) + 1)) and keep each query's 10 best
  // documents — the retrieval primitive behind query-driven
  // decontamination and targeted quality mining in a training-data
  // pipeline. ONE corpus scan feeds everything: each doc is tokenized
  // once and reduced in-row to (doc_id, dl, per-term tf vector) — the
  // corpus never reaches ANY exchange, because tf per term is computed
  // by expression (size(filter(ts, t = q))), not by exploding tokens
  // into a shuffle. The 13-narrow-column result lands in session-temp
  // parquet; corpus stats (N, Σdl — exact BIGINTs, so avgdl is a
  // single IEEE division), document frequencies, and scoring all
  // derive from that tiny table. df/stats/query-terms are broadcast
  // joins; the top-k is a rank-over-window the optimizer executes as
  // WindowGroupLimit (per-partition partial top-10, no global sort).
  // Determinism is engineered like p10: each term's contribution is
  // floored to integer micro-units (floor(c·10⁶) as BIGINT) so the
  // per-(query, doc) sum is EXACT integer math — summation order can
  // never reorder two documents — and ties break by doc_id. At 100 TB
  // the upgrade path is the x11/x11b inverted index: precompute
  // postings + per-doc norms once, and each query set probes the
  // term-bucketed index instead of rescanning the corpus; the scoring
  // and ranking shape here carries over unchanged.
  // The full scan-form design (one corpus pass, in-row tf vectors, the
  // corpus never reaching an exchange, exact micro-unit arithmetic,
  // WindowGroupLimit top-k) lives in operators/Retrieval.scala — this
  // entry is the catalog binding of that capability to the fixture
  // corpus and the standing 4-query term set.
  private val bm25QueryTerms: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "stream", 1L -> "join",
    2L -> "fast", 2L -> "query",
    3L -> "hash", 3L -> "table", 3L -> "scan",
    4L -> "slow", 4L -> "window", 4L -> "merge")

  private val x15 = QueryDef(
    "x15_bm25_topk",
    (s, dir) =>
      graft.operators.Retrieval.bm25TopK(docs(s, dir), bm25QueryTerms, 10),
    Some(
      """WITH terms(query_id, token) AS (VALUES
        |    (1, 'spark'), (1, 'stream'), (1, 'join'),
        |    (2, 'fast'), (2, 'query'),
        |    (3, 'hash'), (3, 'table'), (3, 'scan'),
        |    (4, 'slow'), (4, 'window'), (4, 'merge')),
        |base AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
        |      AS BIGINT) AS dl,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |                 CAST(SUM(dl) AS BIGINT) AS sumdl FROM base),
        |tf AS (
        |  SELECT doc_id, dl, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(ts) AS token FROM base)
        |  WHERE token IN (SELECT token FROM terms)
        |  GROUP BY doc_id, dl, token),
        |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
        |          FROM tf GROUP BY token),
        |scored AS (
        |  SELECT t.query_id, f.doc_id,
        |    CAST(SUM(CAST(FLOOR(
        |      ln((CAST(s.n - d.df AS DOUBLE) + 0.5)
        |           / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(f.tf AS DOUBLE) * 2.2)
        |      / (CAST(f.tf AS DOUBLE) + 1.2 * (0.25
        |           + 0.75 * CAST(f.dl AS DOUBLE) * CAST(s.n AS DOUBLE)
        |             / CAST(s.sumdl AS DOUBLE)))
        |      * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
        |  FROM tf f
        |  JOIN dfreq d USING (token)
        |  JOIN terms t USING (token)
        |  CROSS JOIN stats s
        |  GROUP BY t.query_id, f.doc_id)
        |SELECT CAST(query_id AS BIGINT) AS query_id, rank,
        |  CAST(doc_id AS BIGINT) AS doc_id, score_micro
        |FROM (
        |  SELECT query_id, doc_id, score_micro,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, doc_id) AS rank
        |  FROM scored)
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin))

  // X15b — the AMORTIZED form of x15: BM25 probing a PRE-BUILT
  // bucket-partitioned postings index instead of scanning the corpus.
  // x15's scan-reduce is optimal for one query set (the corpus never
  // reaches an exchange); once many query sets probe the same corpus,
  // the index pays off — build once (the one corpus-wide shuffle, the
  // x11 inverted-index shape), then every probe reads ONLY the query
  // terms' buckets via partition pruning and never touches the corpus.
  // Index layout: postings (token, doc_id, tf, dl) written
  // `partitionBy(bucket = hash(token) % nBuckets)` — nBuckets
  // corpus-scaled (Retrieval.adaptiveBuckets) — after a repartition on the
  // bucket (one file per bucket, no small-files storm); dl is
  // DENORMALIZED into each posting — Lucene's norms-per-posting trade:
  // +8 bytes/row buys scoring without a corpus-sized doc-length join,
  // which at 100 TB would be a shuffle no probe should pay. Corpus
  // stats (N, Σdl) are pre-aggregated at build into a 1-row table, so
  // a probe's physical work is: pruned scan of ≤|terms| buckets →
  // tiny local df agg → broadcast joins → WindowGroupLimit top-k.
  // The bench time includes the BUILD (honest amortization baseline);
  // the probe alone is the steady-state cost. Same oracle SQL as x15 —
  // two physical strategies, one relational contract.
  private val x15b = QueryDef(
    "x15b_bm25_indexed",
    (s, dir) => {
      // each call builds a fresh index in its own session-temp dir;
      // nBuckets is corpus-scaled (Retrieval.adaptiveBuckets) so bucket
      // files stay near fixed size as the corpus grows.
      val idx = graft.SessionTemp.dir("graft_x15b_idx_")
      val fp = graft.operators.Retrieval.pathFingerprint(
        s"$dir/documents.parquet")
      graft.operators.Retrieval.ensureIndex(docs(s, dir), idx, fp)
      graft.operators.Retrieval.probeIndex(s, idx, bm25QueryTerms, 10)
    },
    x15.oracle)

  // X16 — REPETITION QUALITY FILTER (the Gopher/MassiveText repetition
  // rules): per-document duplicate-trigram fraction
  // (1 − distinct/total 3-grams — repeated passages and boilerplate
  // loops score high) and top-token fraction (share of the single most
  // frequent token — degenerate keyword-stuffed docs score high), with
  // the standard keep gate (dup ≤ 0.3 AND top ≤ 0.2). Everything is
  // computed IN-ROW by codegen'd expressions (the word_ngrams kernel
  // gives distinct trigrams in one call; the top-token count is a
  // distinct×occurrence lambda over ≤~100 tokens) — one corpus scan,
  // zero shuffles, embarrassingly parallel at any scale: the 100 TB
  // plan is identical to the fixture plan. Fractions are single IEEE
  // divisions of exact BIGINTs, so both engines produce bit-identical
  // doubles and the keep gate can compare against thresholds without a
  // boundary hazard. The metrics land in session-temp parquet before
  // the output orderBy: a global sort directly over the heavy
  // projection would evaluate it TWICE (the range partitioner's
  // sampling pass executes the child plan, then the exchange executes
  // it again — measured 2× 18 s stages at 300×); sorting the
  // materialized 7-narrow-column table keeps the heavy pass single.
  private val x16 = QueryDef(
    "x16_repetition_filter",
    (s, dir) => {
      // Signal builder in operators/TextAnalysis.repetitionFilter
      // (Gopher thresholds pinned at the defaults 0.3/0.2);
      // materialize-before-sort so the range partitioner never re-runs
      // the heavy projection.
      val metrics = graft.operators.TextAnalysis.repetitionFilter(docs(s, dir))
      val tmp = graft.SessionTemp.dir("graft_x16_")
      metrics.write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp).orderBy("doc_id")
    },
    Some(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
        |    AS ts
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_tok,
        |    CAST(greatest(len(ts) - 2, 0) AS BIGINT) AS tri_total,
        |    CAST(len(list_distinct(list_transform(range(1, len(ts) - 1),
        |      i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])))
        |      AS BIGINT) AS tri_distinct,
        |    CAST(list_aggregate(list_transform(list_distinct(ts),
        |      t -> len(list_filter(ts, x -> x = t))), 'max')
        |      AS BIGINT) AS top_cnt
        |  FROM t),
        |f AS (
        |  SELECT doc_id, n_tok, tri_total, tri_distinct,
        |    CASE WHEN tri_total = 0 THEN 0.0
        |         ELSE CAST(1 AS DOUBLE) - CAST(tri_distinct AS DOUBLE)
        |              / CAST(tri_total AS DOUBLE) END AS dup3_frac,
        |    CAST(top_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_frac
        |  FROM m)
        |SELECT doc_id, n_tok, tri_total, tri_distinct, dup3_frac, top_frac,
        |  CAST(dup3_frac <= 0.3 AND top_frac <= 0.2 AS BIGINT) AS keep_doc
        |FROM f ORDER BY doc_id""".stripMargin))

  // X17 — PER-SOURCE TOKEN-DISTRIBUTION DIVERGENCE: KL(source ‖ corpus)
  // over unigram distributions — the drift/mixture diagnostic that
  // tells a pipeline operator which source's language has wandered from
  // the blend (a scraper gone bad, a source flooded by boilerplate)
  // before it poisons the mixture weights (p9). One corpus explode
  // lands in a (source, token) count aggregate — map-side partials
  // absorb the token fan-out inside the scan stage (the x7 shape), and
  // the aggregate is (sources × vocabulary)-sized (≪ corpus, Heaps) —
  // materialized to session-temp parquet; corpus token counts, source
  // totals and the corpus total all DERIVE from that tiny table, never
  // re-exploding the corpus. The divergence join is token-keyed
  // (vocab-sized both sides), totals broadcast. Determinism: each
  // term's contribution p·ln(p/q) is computed on ratios of exact
  // BIGINTs (identical IEEE doubles both engines, ln in the proven
  // x14/x15 libm envelope) and floored to SIGNED integer micro-units
  // (p < q terms are negative), so the per-source sum is exact integer
  // math — order-free.
  private val x17 = QueryDef(
    "x17_source_divergence",
    (s, dir) => {
      // Both halves live in operators/TextAnalysis: unigramCounts is
      // the one corpus explode (materialized here, x16's pattern);
      // sourceDivergence derives KL from that vocab-sized table.
      val st0 = graft.operators.TextAnalysis.unigramCounts(docs(s, dir))
      val tmp = graft.SessionTemp.dir("graft_x17_")
      st0.write.mode("overwrite").parquet(tmp)
      graft.operators.TextAnalysis.sourceDivergence(s.read.parquet(tmp))
        .orderBy("source")
    },
    Some(
      """WITH tok AS (
        |  SELECT source,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |  FROM documents),
        |st AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c_st
        |       FROM tok GROUP BY 1, 2),
        |ct AS (SELECT token, CAST(SUM(c_st) AS BIGINT) AS c_t
        |       FROM st GROUP BY 1),
        |ts AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS t_s
        |       FROM st GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c_st) AS BIGINT) AS t_all FROM st)
        |SELECT st.source, CAST(MAX(t_s) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(FLOOR(
        |    (CAST(c_st AS DOUBLE) / CAST(t_s AS DOUBLE))
        |    * ln((CAST(c_st AS DOUBLE) / CAST(t_s AS DOUBLE))
        |         / (CAST(c_t AS DOUBLE) / CAST(t_all AS DOUBLE)))
        |    * 1000000.0) AS BIGINT)) AS BIGINT) AS kl_micro
        |FROM st
        |JOIN ct USING (token)
        |JOIN ts USING (source)
        |CROSS JOIN tot
        |GROUP BY st.source
        |ORDER BY st.source""".stripMargin))

  // P13 — TOKEN-BUDGET CORPUS SELECTION: keep the best-quality subset
  // of the corpus whose total token count fits a budget (here 30% of
  // corpus tokens) — the standard final step of training-set
  // construction ("rank by quality, take until the token budget is
  // spent"). Selection order is the exact total order
  // (quality_micro DESC, doc_id); a doc is kept iff its inclusive
  // running token sum in that order fits the budget. Quality is
  // vocabulary richness in pure integer micro-units
  // (1e6·distinct/total tokens, integer division — no FP anywhere, so
  // both engines agree bit-for-bit including ties).
  //
  // Scale shape: the oracle's formulation is a running sum over the
  // GLOBALLY SORTED corpus — an unpartitioned corpus-sized window that
  // serializes through one task (exactly what PlanShapeSpec forbids).
  // This implementation never sorts the corpus: ONE scan reduces each
  // doc to 3 narrow integers (materialized, x16's pattern), token
  // totals aggregate per quality VALUE (≤ 1e6+1 groups — the window
  // that computes exclusive prefix sums is unpartitioned but
  // AGGREGATE-bounded, the sanctioned q20 shape), the budget boundary
  // picks ≤ 1 quality value, fully-kept quality values join back
  // broadcast, and only the docs AT the boundary value pay a keyed
  // running-sum window (boundary-group-sized, not corpus-sized). The
  // 100 TB plan: scan + one narrow agg exchange + broadcast joins.
  private val p13 = QueryDef(
    "p13_token_budget",
    (s, dir) => {
      // metric + selection live in operators/Selection; the entry
      // binds the fixture corpus, the 30% budget, and the
      // materialize-before-reuse step (x16's pattern).
      import graft.operators.Selection
      val tmp = graft.SessionTemp.dir("graft_p13_")
      Selection.vocabRichnessMicro(docs(s, dir))
        .write.mode("overwrite").parquet(tmp)
      val m = s.read.parquet(tmp)
      Selection.selectByTokenBudget(m,
        Selection.tokenBudgetFraction(m, num = 3, den = 10))
    },
    Some(
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_tok,
        |    CASE WHEN len(ts) = 0 THEN 0
        |         ELSE CAST(CAST(1000000 AS BIGINT) * len(list_distinct(ts))
        |              // len(ts) AS BIGINT) END AS quality_micro
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |        FROM documents)),
        |tot AS (SELECT CAST(SUM(n_tok) * 3 // 10 AS BIGINT) AS b FROM m),
        |sel AS (
        |  SELECT doc_id, quality_micro, n_tok,
        |    SUM(n_tok) OVER (ORDER BY quality_micro DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM m)
        |SELECT doc_id, quality_micro, n_tok
        |FROM sel, tot WHERE cum <= b
        |ORDER BY quality_micro DESC, doc_id""".stripMargin))

  // P13B — token-budget selection on REAL tokenizer counts: p13's
  // rank-by-quality-take-until-budget, with both the budget and the
  // per-doc spend measured in n_bpe_tokens (Bpe.tokenCountsViaVocab —
  // the via-vocab scale path, one merge chain per vocabulary TYPE)
  // instead of whitespace counts — the join the Selection Scaladoc
  // documents (the p6c move applied to selection). Same scale shape as
  // p13: the metric relation is materialized once, selection never
  // sorts the corpus (rank-value aggregation + boundary-group window).
  // The oracle replays the BPE doc chain for the counts and p13's
  // exact selection SQL over them.
  private val p13b = QueryDef(
    "p13b_bpe_token_budget",
    (s, dir) => {
      import graft.operators.{Bpe, Selection}
      val tmp = graft.SessionTemp.dir("graft_p13b_")
      Selection.vocabRichnessMicro(docs(s, dir))
        .select(col("doc_id"), col("quality_micro"))
        .join(Bpe.tokenCountsViaVocab(docs(s, dir), trainedMerges(s, dir))
          .select(col("doc_id"), col("n_bpe_tokens")), "doc_id")
        .write.mode("overwrite").parquet(tmp)
      val m = s.read.parquet(tmp)
      Selection.selectByTokenBudget(m,
        Selection.tokenBudgetFraction(m, num = 3, den = 10,
          tokensCol = "n_bpe_tokens"),
        tokensCol = "n_bpe_tokens")
    },
    Some(OracleSql.bpeDocChainSql(8) +
      """,
        |bpecnt AS (
        |  SELECT doc_id,
        |    CAST((length(seg) - length(replace(seg, chr(31), ''))) // 2
        |      AS BIGINT) AS n_bpe_tokens
        |  FROM ds8),
        |m AS (
        |  SELECT q.doc_id, q.quality_micro, bpecnt.n_bpe_tokens
        |  FROM (SELECT doc_id,
        |          CASE WHEN len(ts) = 0 THEN 0
        |               ELSE CAST(CAST(1000000 AS BIGINT) * len(list_distinct(ts))
        |                    // len(ts) AS BIGINT) END AS quality_micro
        |        FROM (SELECT doc_id,
        |                list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |              FROM documents)) q
        |  JOIN bpecnt USING (doc_id)),
        |tot AS (SELECT CAST(SUM(n_bpe_tokens) * 3 // 10 AS BIGINT) AS b FROM m),
        |sel AS (
        |  SELECT doc_id, quality_micro, n_bpe_tokens,
        |    SUM(n_bpe_tokens) OVER (ORDER BY quality_micro DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM m)
        |SELECT doc_id, quality_micro, n_bpe_tokens
        |FROM sel, tot WHERE cum <= b
        |ORDER BY quality_micro DESC, doc_id""".stripMargin))

  // P14 — FUZZY (NEAR-DUP) DECONTAMINATION: training documents whose
  // shingle-set Jaccard against ANY held-out eval document reaches the
  // d3 threshold. p3/p4 catch EXACT n-gram contamination; real eval
  // leakage is usually fuzzier (reformatted, truncated, lightly edited
  // copies), and the standard practice is MinHash-LSH matching of the
  // training corpus against the eval suite. The eval set here is a
  // deterministic 20% hash gate over doc_id (the p7 split discipline —
  // reproducible on any engine) CAPPED to the first 100k doc ids: an
  // eval suite is fixed-size in reality, so its band table must stay
  // constant as the corpus scales (uncapped, the 300× fixture made
  // "eval" grow to 300k docs and the broadcast with it); candidate
  // generation joins the
  // TRAINING side's band table against the BROADCAST eval band table —
  // never a corpus self-join: an eval suite is fixed-size by
  // construction (benchmarks, not corpora), so at 100 TB the corpus
  // streams once past a broadcast eval sketch, and only candidate
  // pairs pay the exact-Jaccard verification joins. Shingles/bands are
  // the SAME codegen'd kernels and integer arithmetic as d3/d6/d13
  // (one MinHash implementation engine-wide); the shingle table is
  // materialized once so its kernel pass is not recomputed per branch.
  private val p14 = QueryDef(
    "p14_fuzzy_decontaminate",
    (s, dir) => {
      // one corpus pass computes shingles AND the MinHash band kernel,
      // materialized together — every branch of the fuzzy matcher
      // (train bands, eval bands, both shingle explosions, sizes)
      // reads the narrow table; unmaterialized, the two band-side
      // branches re-ran the 64-hash kernel over the whole corpus each
      // (measured 7.3 s + 4.8 s stages at 300×, gone after this). The
      // matcher itself lives in operators/Decontamination.fuzzyMatches.
      val tmp = graft.SessionTemp.dir("graft_p14_")
      shingled(docs(s, dir))
        .withColumn("is_eval",
          col("doc_id") < 100000L &&
          pmod(md5Long(concat(lit("eval:"), col("doc_id").cast("string"))),
            lit(5L)) === 0L)
        .withColumn("bh", expr("minhash_lsh_bands(ws)"))
        .write.mode("overwrite").parquet(tmp)
      graft.operators.Decontamination
        .fuzzyMatches(s, s.read.parquet(tmp), 0.4)
        .orderBy("doc_id", "eval_id")
    },
    Some(
      s"""WITH $bandsSqlCtes,
         |ev AS (SELECT doc_id FROM documents
         |  WHERE doc_id < 100000
         |    AND ('0x' || substr(md5('eval:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |        % 5 = 0),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_hash = y.band_hash
         |  WHERE x.doc_id NOT IN (SELECT doc_id FROM ev)
         |    AND y.doc_id IN (SELECT doc_id FROM ev)),
         |uni AS (SELECT doc_id, unnest(ws) AS w FROM shf),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
         |          FROM uni GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM cand c
         |  JOIN uni a ON a.doc_id = c.doc_a
         |  JOIN uni b ON b.doc_id = c.doc_b AND b.w = a.w
         |  GROUP BY 1, 2)
         |SELECT doc_a AS doc_id, doc_b AS eval_id,
         |  ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.4
         |ORDER BY doc_id, eval_id""".stripMargin))

  // P15 — the END-TO-END CURATION PIPELINE as one gated entry: the
  // stages a user of this engine actually chains — exact dedup
  // (min-id keeper, Dedup.exactDuplicates' rule) → benchmark
  // decontamination (p3's exact 4-gram rule, eval docs leave the
  // corpus too) → quality-ranked token-budget selection (half the
  // surviving tokens, Selection.selectByTokenBudget). Every stage is a
  // LIBRARY call; the entry only wires them — the point is proving the
  // operators COMPOSE under the oracle, not any new primitive. The
  // oracle replays the full chain relationally (keeper join →
  // gram-hash semi-join → richness metric → aggregate-bounded running
  // sum), so stage boundaries can't hide a semantics drift. Scale
  // shape inherits from the stages: one hash-groupBy, one broadcast
  // eval probe, the p13 never-sort-the-corpus selection; the metric
  // relation is materialized once (the x16 pattern).
  private val p15 = QueryDef(
    "p15_curation_pipeline",
    (s, dir) => {
      import graft.operators.Curation
      Curation.funnel(docs(s, dir), Seq(
        Curation.exactDedup(),
        Curation.decontaminate(pmod(col("doc_id"), lit(97)) === 0),
        Curation.qualityMetric(),
        Curation.selectTokenBudget(num = 1, den = 2)))
    },
    Some(OracleSql.curationPrefixSql +
      """,
        |clean AS (
        |  SELECT * FROM toks
        |  WHERE doc_id % 97 <> 0
        |    AND doc_id NOT IN (SELECT doc_id FROM flagged)),
        |m AS (
        |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok,
        |    CASE WHEN len(ts) = 0 THEN 0
        |         ELSE CAST(CAST(1000000 AS BIGINT) * len(list_distinct(ts))
        |              // len(ts) AS BIGINT) END AS quality_micro
        |  FROM clean),
        |tot AS (SELECT CAST(SUM(n_tok) * 1 // 2 AS BIGINT) AS b FROM m),
        |sel AS (
        |  SELECT doc_id, quality_micro, n_tok,
        |    SUM(n_tok) OVER (ORDER BY quality_micro DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM m)
        |SELECT doc_id, quality_micro, n_tok
        |FROM sel, tot WHERE cum <= b
        |ORDER BY quality_micro DESC, doc_id""".stripMargin))

  // P16 — DOMAIN-MIX SELECTION: apply per-source target weights as
  // token budgets — the data-mixing step of training-set construction
  // (sample each source to its target share of the corpus's tokens,
  // best-quality first). p9 COMPUTES mixture weights; p16 APPLIES a
  // weight vector: within every source, keep docs in exact
  // (quality_micro DESC, doc_id) order until the source's inclusive
  // running token sum exceeds b_src = corpus_tokens · w_micro div 1e6.
  // The mix here up-weights src0–src2 to 15% each (3× their ~5%
  // natural share — budget exceeds the domain's tokens, so the WHOLE
  // domain is kept: the up-weighted-slack path) and down-weights the
  // rest to 2.5% (binding: ~half of each survives — the boundary
  // path), so both regimes are under the oracle at every sf.
  //
  // Scale shape (operators/Selection.selectByDomainBudget): the p13
  // rank-value aggregation KEYED by domain — the prefix-sum window is
  // partitioned by source (parallel, aggregate-bounded), the boundary
  // set is ≤ 1 rank per source (broadcast), fully-kept (source, rank)
  // pairs join back size-decided by AQE (no forced hint — the x10
  // discipline), and only boundary-rank docs pay a keyed running-sum
  // window. The corpus is never globally sorted.
  private val p16 = QueryDef(
    "p16_domain_mix",
    (s, dir) => {
      import graft.operators.Selection
      val d = docs(s, dir)
      val tmp = graft.SessionTemp.dir("graft_p16_")
      // metric + source in ONE materialized narrow relation (the x16
      // pattern): selection reads 4 integers/strings per doc, never
      // the corpus again
      Selection.vocabRichnessMicro(d, carryCols = Seq("source"))
        .write.mode("overwrite").parquet(tmp)
      val m = s.read.parquet(tmp)
      import s.implicits._
      val weights = (0 until 20)
        .map(i => (s"src$i", if (i < 3) 150000L else 25000L))
        .toDF("source", "w_micro")
      Selection.selectByDomainBudget(m,
        Selection.domainBudgets(m, weights))
    },
    Some(
      """WITH m AS (
        |  SELECT doc_id, source,
        |    CAST(len(ts) AS BIGINT) AS n_tok,
        |    CASE WHEN len(ts) = 0 THEN 0
        |         ELSE CAST(CAST(1000000 AS BIGINT) * len(list_distinct(ts))
        |              // len(ts) AS BIGINT) END AS quality_micro
        |  FROM (SELECT doc_id, source,
        |          list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |        FROM documents)),
        |w AS (
        |  SELECT DISTINCT source,
        |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN 150000
        |         ELSE 25000 END AS w_micro
        |  FROM documents),
        |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t FROM m),
        |b AS (SELECT source, CAST(t * w_micro // 1000000 AS BIGINT) AS b
        |      FROM w, tot),
        |sel AS (
        |  SELECT doc_id, source, quality_micro, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source
        |      ORDER BY quality_micro DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM m)
        |SELECT source, doc_id, quality_micro, n_tok
        |FROM sel JOIN b USING (source) WHERE cum <= b.b
        |ORDER BY source, quality_micro DESC, doc_id""".stripMargin))

  // P16B — DOMAIN MIX WITH REPETITION: how a real mix spends a budget
  // LARGER than a domain holds — repeat the domain, at most 4 passes,
  // the last possibly partial (Selection.domainMixWithRepetition):
  // full = min(b div tok_domain, 4) complete epochs, then the
  // remainder budget buys a best-quality-first partial pass with
  // p16's exact inclusive running-sum semantics (the
  // data-constrained-scaling discipline: repetition past ~4 epochs
  // stops paying, so the cap is the realistic default, and it also
  // BOUNDS output at 4× corpus — uncapped repetition would let one
  // tiny up-weighted domain explode the output). The mix exercises
  // every regime at every sf: src0 at 10× natural share (cap hit — 4
  // full passes, no partial), src1/src2 at 3× (full passes + partial
  // remainder pass), the rest at half share (partial pass only — p16's
  // binding path).
  //
  // Scale shape: the (tok, full, remainder) table is 20 rows
  // (broadcast); full passes are ONE corpus join + an in-row sequence
  // explode; the partial pass is p16's keyed-window selection on the
  // remainder budgets. No global sort, no corpus shuffle beyond p16's.
  private val p16b = QueryDef(
    "p16b_domain_mix_epochs",
    (s, dir) => {
      import graft.operators.Selection
      val d = docs(s, dir)
      val tmp = graft.SessionTemp.dir("graft_p16b_")
      Selection.vocabRichnessMicro(d, carryCols = Seq("source"))
        .write.mode("overwrite").parquet(tmp)
      val m = s.read.parquet(tmp)
      import s.implicits._
      val weights = (0 until 20)
        .map(i => (s"src$i",
          if (i == 0) 500000L else if (i < 3) 150000L else 25000L))
        .toDF("source", "w_micro")
      Selection.domainMixWithRepetition(m,
        Selection.domainBudgets(m, weights), maxEpochs = 4)
    },
    Some(
      """WITH m AS (
        |  SELECT doc_id, source,
        |    CAST(len(ts) AS BIGINT) AS n_tok,
        |    CASE WHEN len(ts) = 0 THEN 0
        |         ELSE CAST(CAST(1000000 AS BIGINT) * len(list_distinct(ts))
        |              // len(ts) AS BIGINT) END AS quality_micro
        |  FROM (SELECT doc_id, source,
        |          list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |        FROM documents)),
        |w AS (
        |  SELECT DISTINCT source,
        |    CASE WHEN source = 'src0' THEN 500000
        |         WHEN source IN ('src1', 'src2') THEN 150000
        |         ELSE 25000 END AS w_micro
        |  FROM documents),
        |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t FROM m),
        |b AS (SELECT source, CAST(t * w_micro // 1000000 AS BIGINT) AS b
        |      FROM w, tot),
        |dom AS (
        |  SELECT m.source, CAST(SUM(n_tok) AS BIGINT) AS tok, b.b,
        |    CASE WHEN SUM(n_tok) > 0
        |         THEN LEAST(CAST(b.b // SUM(n_tok) AS BIGINT), 4)
        |         ELSE 0 END AS fullp
        |  FROM m JOIN b USING (source) GROUP BY m.source, b.b),
        |dom2 AS (
        |  SELECT source, tok, b, fullp,
        |    CASE WHEN fullp < 4 THEN b - fullp * tok ELSE 0 END AS rem
        |  FROM dom),
        |fullpass AS (
        |  SELECT m.source, m.doc_id,
        |    CAST(unnest(generate_series(1, fullp)) AS BIGINT) AS epoch,
        |    m.quality_micro, m.n_tok
        |  FROM m JOIN dom2 USING (source)),
        |frac AS (
        |  SELECT sel.source, sel.doc_id,
        |    CAST(fullp + 1 AS BIGINT) AS epoch, sel.quality_micro, sel.n_tok
        |  FROM (SELECT m.*,
        |          SUM(n_tok) OVER (PARTITION BY source
        |            ORDER BY quality_micro DESC, doc_id
        |            ROWS UNBOUNDED PRECEDING) AS cum
        |        FROM m) sel
        |  JOIN dom2 USING (source)
        |  WHERE fullp < 4 AND cum <= rem)
        |SELECT source, doc_id, epoch, quality_micro, n_tok
        |FROM (SELECT * FROM fullpass UNION ALL SELECT * FROM frac)
        |ORDER BY source, epoch, quality_micro DESC, doc_id""".stripMargin))

  // P17 — DSIR IMPORTANCE SCORING (Xie et al. 2023, arXiv:2302.03169):
  // the published classifier-free way to tilt a web-scale raw pool
  // toward a small target domain — hashed-bigram bag-of-ngrams models
  // over target (the src0 seed set) vs raw (the other 19 sources),
  // per-doc log importance weight = Σ ln p̂_t(b) − ln p̂_r(b) over the
  // doc's 4096-bucket bigram hashes. Scale shape: two scans ending in
  // a bucket-BOUNDED aggregation fit the models (≤ 4096 rows collected
  // — parameter-sized, the centroid boundedness class), the log-ratio
  // table ships as ONE dense array literal riding the task binary (the
  // d17/d15 probe precedent — a joined constant column re-materializes
  // per row), and scoring is one corpus scan with an in-row fold: zero
  // shuffle, no join, whole-stage codegen. Float gate: ulp-level
  // ln/sum-order differences land ~1e-14 relative — the x14 envelope.
  private val p17 = QueryDef(
    "p17_dsir_weights",
    (s, dir) => {
      val d = docs(s, dir)
      graft.operators.Dsir.importanceWeights(
          d.filter(col("source") =!= "src0"), dsirLrShared(s, dir))
        .orderBy("doc_id")
    },
    Some(
      """WITH dsir_target AS (
        |  SELECT doc_id, text FROM documents WHERE source = 'src0'),
        |dsir_raw AS (
        |  SELECT doc_id, text FROM documents WHERE source <> 'src0'),
        |""".stripMargin + OracleSql.dsirScoredSql(4096) +
      "\nSELECT doc_id, n_bigrams, logw FROM scored ORDER BY doc_id"))

  // P17B — the RESAMPLING act of DSIR: sample k docs without
  // replacement with probability ∝ exp(logw) via Gumbel top-k
  // (Efraimidis–Spirakis): key = logw − ln(−ln(u)), u a salted 32-bit
  // md5 uniform (+0.5 keeps both lns finite) — deterministic on any
  // engine, any partitioning, and incremental-safe (new docs never
  // move an existing doc's key). Physically a TakeOrderedAndProject:
  // per-partition partial top-k then a k-sized merge — the corpus is
  // never globally sorted (the p10 discipline, FP keys under the x14
  // envelope with a doc_id tie-break).
  private val p17b = QueryDef(
    "p17b_dsir_resample",
    (s, dir) => {
      val d = docs(s, dir)
      graft.operators.Dsir.gumbelResample(
        graft.operators.Dsir.importanceWeights(
            d.filter(col("source") =!= "src0"), dsirLrShared(s, dir))
          .select(col("doc_id"), col("logw")),
        k = 200)
    },
    Some(
      """WITH dsir_target AS (
        |  SELECT doc_id, text FROM documents WHERE source = 'src0'),
        |dsir_raw AS (
        |  SELECT doc_id, text FROM documents WHERE source <> 'src0'),
        |""".stripMargin + OracleSql.dsirScoredSql(4096) + "\n" +
      OracleSql.dsirGumbelSelect(200)))

  // P17C — the SAMPLED-FIT form: the raw model fits on a
  // deterministic 1/4 doc subsample (60-bit salted md5 digest gate —
  // the d16/d17c sampling discipline applied to the model fit), while
  // SCORING still sees every raw doc. This is the 100-TB lever the
  // Dsir Scaladoc names — only bucket FREQUENCIES enter the raw
  // model, so a 1/m sample changes smoothing noise, not the method,
  // and the fit scan drops to 1/m of the corpus. Gated so the claim
  // is proven, not prose (the p13b/d17c discipline).
  private val p17c = QueryDef(
    "p17c_dsir_sampled_fit",
    (s, dir) => {
      val d = docs(s, dir)
      val lr = graft.operators.Dsir.importanceLogRatios(
        d.filter(col("source") === "src0"),
        d.filter(col("source") =!= "src0"), buckets = 4096,
        rawSampleMod = 4)
      graft.operators.Dsir.importanceWeights(
          d.filter(col("source") =!= "src0"), lr)
        .orderBy("doc_id")
    },
    Some(
      """WITH dsir_target AS (
        |  SELECT doc_id, text FROM documents WHERE source = 'src0'),
        |dsir_raw AS (
        |  SELECT doc_id, text FROM documents WHERE source <> 'src0'),
        |""".stripMargin + OracleSql.dsirScoredSql(4096, rawSampleMod = 4) +
      "\nSELECT doc_id, n_bigrams, logw FROM scored ORDER BY doc_id"))

  // P17E — PAPER-FAITHFUL FEATURE SPACE: Xie et al. hash unigrams AND
  // bigrams into one bucket domain; the engine's default wing is
  // bigram-only (a stated simplification — SURVEY names it where it
  // cites the paper). This entry gates the full unigram ∪ bigram form
  // so the fidelity option is proven, not prose: the fit explodes the
  // unigram-then-bigram dsir_buckets stream in the SAME corpus scan
  // (still bucket-bounded), and scoring is one dsir_score call per row
  // whose unigram and bigram folds are summed in-row (unigrams first —
  // the stated cross-engine order) — still one scan, zero shuffle, no
  // join.
  private val p17e = QueryDef(
    "p17e_dsir_unibigram",
    (s, dir) => {
      val d = docs(s, dir)
      val lr = graft.operators.Dsir.importanceLogRatios(
        d.filter(col("source") === "src0"),
        d.filter(col("source") =!= "src0"), buckets = 4096,
        includeUnigrams = true)
      graft.operators.Dsir.importanceWeights(
          d.filter(col("source") =!= "src0"), lr, includeUnigrams = true)
        .orderBy("doc_id")
    },
    Some(
      """WITH dsir_target AS (
        |  SELECT doc_id, text FROM documents WHERE source = 'src0'),
        |dsir_raw AS (
        |  SELECT doc_id, text FROM documents WHERE source <> 'src0'),
        |""".stripMargin +
      OracleSql.dsirScoredSql(4096, includeUnigrams = true) +
      "\nSELECT doc_id, n_features, logw FROM scored ORDER BY doc_id"))

  // P18 — DSIR IN THE CURATION FUNNEL (the p15 composition proof
  // applied to the new wing): exact dedup (keep-first) → 4-gram eval
  // decontamination (the p15 stages, verbatim) → DSIR scoring of the
  // CLEAN pool against the src0 seed set → Gumbel top-150 resample.
  // Every stage is a library call (Dedup.exactDuplicates,
  // Decontamination.ngramHashes/flagExact, Dsir.importanceLogRatios/
  // importanceWeights/gumbelResample); the oracle replays the whole
  // chain relationally — the dsir fragment consumes the deduped +
  // decontaminated CTEs directly, so stage boundaries cannot hide
  // drift. Scale shape = the stages' own (semi/anti joins on hashes,
  // bucket-bounded fits, fold-scan, partial top-k); the fit here runs
  // on the DECONTAMINATED pool, which is the method's actual contract
  // (score the docs you could actually train on).
  private val p18 = QueryDef(
    "p18_dsir_pipeline",
    (s, dir) => {
      import graft.operators.Curation
      // dd is consumed by INDEPENDENT ACTIONS (the decontaminate→pool
      // write and the DSIR target fit — exchange reuse only dedups
      // branches within one action), so it lands once in session-temp
      // via a materialized identity stage instead of re-running the
      // dedup join per action
      val dd = Curation.funnel(docs(s, dir), Seq(Curation.exactDedup(),
        Curation.materialized("p18dd")(d => d)))
      // the clean pool feeds BOTH the raw-model fit and the scoring
      // scan — materialized once (Curation's session-temp policy) so
      // the dedup + decontamination joins don't re-run per consumer;
      // the target seed set is the deduped src0 slice, not
      // decontaminated (the eval gate applies to what one TRAINS on,
      // not to the seed)
      Curation.funnel(dd, Seq(
        Curation.decontaminate(pmod(col("doc_id"), lit(97)) === 0),
        Curation.materialized("p18pool")(_
          .filter(col("source") =!= "src0")
          .select(col("doc_id"), col("text"))),
        Curation.dsirResample(
          target = dd.filter(col("source") === "src0"), k = 150)))
    },
    Some(OracleSql.curationPrefixSql +
      """,
        |dsir_target AS (
        |  SELECT doc_id, text FROM dd WHERE source = 'src0'),
        |dsir_raw AS (
        |  SELECT doc_id, text FROM dd
        |  WHERE source <> 'src0' AND doc_id % 97 <> 0
        |    AND doc_id NOT IN (SELECT doc_id FROM flagged)),
        |""".stripMargin + OracleSql.dsirScoredSql(4096) + "\n" +
      OracleSql.dsirGumbelSelect(150)))

  // P19 — THE FULL PRODUCTION SHAPE: curate, then MIX to target
  // weights. p15/p18 prove dedup → decontaminate → {select, DSIR};
  // p19 adds the domain-mix stage as the funnel's final act — exact
  // dedup → 4-gram eval decontamination (the shared prefix, verbatim)
  // → per-doc metric WITH source carried (one materialized narrow
  // relation) → per-source token budgets at the p16 mix (src0–src2
  // up-weighted to 15%, the rest 2.5%) over the CLEAN pool's total
  // tokens. Every stage is a Curation builder over the member
  // operators; the oracle replays the whole chain relationally (the
  // p16 fragment consuming the curation prefix's `dd`/`flagged` CTEs
  // directly), so stage boundaries cannot hide drift. Scale shape =
  // the stages' own: hash semi/anti joins, the domain-keyed
  // aggregate-bounded prefix window, AQE-size-decided joins — the
  // corpus is never globally sorted.
  private val p19 = QueryDef(
    "p19_curation_mix",
    (s, dir) => {
      import graft.operators.Curation
      import s.implicits._
      val weights = (0 until 20)
        .map(i => (s"src$i", if (i < 3) 150000L else 25000L))
        .toDF("source", "w_micro")
      Curation.funnel(docs(s, dir), Seq(
        Curation.exactDedup(),
        Curation.decontaminate(pmod(col("doc_id"), lit(97)) === 0),
        Curation.qualityMetric(carryCols = Seq("source")),
        Curation.domainMix(weights)))
    },
    Some(OracleSql.curationPrefixSql +
      """,
        |clean AS (
        |  SELECT dd.doc_id, dd.source, dd.text FROM dd
        |  WHERE doc_id % 97 <> 0
        |    AND doc_id NOT IN (SELECT doc_id FROM flagged)),
        |m AS (
        |  SELECT doc_id, source,
        |    CAST(len(ts) AS BIGINT) AS n_tok,
        |    CASE WHEN len(ts) = 0 THEN 0
        |         ELSE CAST(CAST(1000000 AS BIGINT) * len(list_distinct(ts))
        |              // len(ts) AS BIGINT) END AS quality_micro
        |  FROM (SELECT doc_id, source,
        |          list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |        FROM clean)),
        |w AS (
        |  SELECT DISTINCT source,
        |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN 150000
        |         ELSE 25000 END AS w_micro
        |  FROM documents),
        |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t FROM m),
        |b AS (SELECT source, CAST(t * w_micro // 1000000 AS BIGINT) AS b
        |      FROM w, tot),
        |sel AS (
        |  SELECT doc_id, source, quality_micro, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source
        |      ORDER BY quality_micro DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM m)
        |SELECT source, doc_id, quality_micro, n_tok
        |FROM sel JOIN b USING (source) WHERE cum <= b.b
        |ORDER BY source, quality_micro DESC, doc_id""".stripMargin))

  // P20 — CURATION + REPETITION MIX: the p19 funnel with the
  // repetition form as the final stage (Curation.domainMixEpochs →
  // Selection.domainMixWithRepetition): the curated pool's budgets
  // exercise the cap path (src0 at a 50% weight — budget ≫ domain →
  // 4 full epochs), full + partial (src1/src2 at 15%), and
  // partial-only (the rest at 2.5%) over the CLEAN pool's tokens. The
  // oracle replays dedup → decontamination → metric → epoch expansion
  // relationally (p16b's chain consuming the curation prefix's CTEs).
  // Scale shape: the stages' own + p16b's (one corpus join +
  // in-row sequence explode for full passes; the keyed window only on
  // remainder budgets).
  private val p20 = QueryDef(
    "p20_curation_mix_epochs",
    (s, dir) => {
      import graft.operators.Curation
      import s.implicits._
      val weights = (0 until 20)
        .map(i => (s"src$i",
          if (i == 0) 500000L else if (i < 3) 150000L else 25000L))
        .toDF("source", "w_micro")
      Curation.funnel(docs(s, dir), Seq(
        Curation.exactDedup(),
        Curation.decontaminate(pmod(col("doc_id"), lit(97)) === 0),
        Curation.qualityMetric(carryCols = Seq("source")),
        Curation.domainMixEpochs(weights, maxEpochs = 4)))
    },
    Some(OracleSql.curationPrefixSql +
      """,
        |clean AS (
        |  SELECT dd.doc_id, dd.source, dd.text FROM dd
        |  WHERE doc_id % 97 <> 0
        |    AND doc_id NOT IN (SELECT doc_id FROM flagged)),
        |m AS (
        |  SELECT doc_id, source,
        |    CAST(len(ts) AS BIGINT) AS n_tok,
        |    CASE WHEN len(ts) = 0 THEN 0
        |         ELSE CAST(CAST(1000000 AS BIGINT) * len(list_distinct(ts))
        |              // len(ts) AS BIGINT) END AS quality_micro
        |  FROM (SELECT doc_id, source,
        |          list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |        FROM clean)),
        |w AS (
        |  SELECT DISTINCT source,
        |    CASE WHEN source = 'src0' THEN 500000
        |         WHEN source IN ('src1', 'src2') THEN 150000
        |         ELSE 25000 END AS w_micro
        |  FROM documents),
        |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t FROM m),
        |b AS (SELECT source, CAST(t * w_micro // 1000000 AS BIGINT) AS b
        |      FROM w, tot),
        |dom AS (
        |  SELECT m.source, CAST(SUM(n_tok) AS BIGINT) AS tok, b.b,
        |    CASE WHEN SUM(n_tok) > 0
        |         THEN LEAST(CAST(b.b // SUM(n_tok) AS BIGINT), 4)
        |         ELSE 0 END AS fullp
        |  FROM m JOIN b USING (source) GROUP BY m.source, b.b),
        |dom2 AS (
        |  SELECT source, tok, b, fullp,
        |    CASE WHEN fullp < 4 THEN b - fullp * tok ELSE 0 END AS rem
        |  FROM dom),
        |fullpass AS (
        |  SELECT m.source, m.doc_id,
        |    CAST(unnest(generate_series(1, fullp)) AS BIGINT) AS epoch,
        |    m.quality_micro, m.n_tok
        |  FROM m JOIN dom2 USING (source)),
        |frac AS (
        |  SELECT sel.source, sel.doc_id,
        |    CAST(fullp + 1 AS BIGINT) AS epoch, sel.quality_micro, sel.n_tok
        |  FROM (SELECT m.*,
        |          SUM(n_tok) OVER (PARTITION BY source
        |            ORDER BY quality_micro DESC, doc_id
        |            ROWS UNBOUNDED PRECEDING) AS cum
        |        FROM m) sel
        |  JOIN dom2 USING (source)
        |  WHERE fullp < 4 AND cum <= rem)
        |SELECT source, doc_id, epoch, quality_micro, n_tok
        |FROM (SELECT * FROM fullpass UNION ALL SELECT * FROM frac)
        |ORDER BY source, epoch, quality_micro DESC, doc_id""".stripMargin))

  // P22 — VERIFIED FUNNEL OBSERVABILITY: production curation needs a
  // per-stage audit (rows/tokens in → out per stage), and an audit
  // nobody checks is log prose. Curation.funnelWithReport attaches
  // observe() counters at every stage boundary (free aggregates riding
  // each stage's own execution — no extra counting pass; the audit
  // form materializes stages so each observe node has exactly ONE
  // consumer and can never double-count through a multi-branch stage)
  // and surfaces the trail as a relation. The entry runs p19's exact
  // stage list and gates the REPORT itself: the oracle recomputes
  // every stage's row and token count relationally (input → dd →
  // clean → metric → mix over the curation prefix CTEs), so a stage
  // that silently dropped or duplicated rows fails the hash gate.
  private val p22 = QueryDef(
    "p22_curation_report",
    (s, dir) => {
      import graft.operators.Curation
      import s.implicits._
      val weights = (0 until 20)
        .map(i => (s"src$i", if (i < 3) 150000L else 25000L))
        .toDF("source", "w_micro")
      // report-only: the funnel result is discarded, so the final
      // stage's observe rides a noop pass instead of a parquet landing
      val (_, report) = Curation.funnelWithReport(docs(s, dir), Seq(
        Curation.exactDedup(),
        Curation.decontaminate(pmod(col("doc_id"), lit(97)) === 0),
        Curation.qualityMetric(carryCols = Seq("source")),
        Curation.domainMix(weights)),
        materializeResult = false)
      report.orderBy("stage_idx")
    },
    Some(OracleSql.curationPrefixSql +
      """,
        |clean AS (
        |  SELECT dd.doc_id, dd.source, dd.text FROM dd
        |  WHERE doc_id % 97 <> 0
        |    AND doc_id NOT IN (SELECT doc_id FROM flagged)),
        |m AS (
        |  SELECT doc_id, source,
        |    CAST(len(ts) AS BIGINT) AS n_tok,
        |    CASE WHEN len(ts) = 0 THEN 0
        |         ELSE CAST(CAST(1000000 AS BIGINT) * len(list_distinct(ts))
        |              // len(ts) AS BIGINT) END AS quality_micro
        |  FROM (SELECT doc_id, source,
        |          list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |        FROM clean)),
        |w AS (
        |  SELECT DISTINCT source,
        |    CASE WHEN source IN ('src0', 'src1', 'src2') THEN 150000
        |         ELSE 25000 END AS w_micro
        |  FROM documents),
        |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t FROM m),
        |b AS (SELECT source, CAST(t * w_micro // 1000000 AS BIGINT) AS b
        |      FROM w, tot),
        |sel AS (
        |  SELECT doc_id, source, quality_micro, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source
        |      ORDER BY quality_micro DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM m),
        |mix AS (SELECT m2.doc_id, m2.n_tok FROM sel m2
        |        JOIN b USING (source) WHERE cum <= b.b),
        |tk AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
        |      AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage_idx, 'input' AS stage,
        |    CAST(COUNT(*) AS BIGINT) AS rows_out,
        |    CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS tokens_out FROM tk
        |  UNION ALL
        |  SELECT 1, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
        |    CAST(COALESCE(SUM(n_tok), 0) AS BIGINT)
        |  FROM dd JOIN tk USING (doc_id)
        |  UNION ALL
        |  SELECT 2, 'decontaminate', CAST(COUNT(*) AS BIGINT),
        |    CAST(COALESCE(SUM(n_tok), 0) AS BIGINT)
        |  FROM clean JOIN tk USING (doc_id)
        |  UNION ALL
        |  SELECT 3, 'metric', CAST(COUNT(*) AS BIGINT),
        |    CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM m
        |  UNION ALL
        |  SELECT 4, 'domain_mix', CAST(COUNT(*) AS BIGINT),
        |    CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM mix)
        |ORDER BY stage_idx""".stripMargin))

  val defs: Seq[QueryDef] = Seq(
    d1, d2, d3, d4, d5, d6, d9, d10, d11, d15, d16, d17, d17b, d17c,
    c1q, c1bq, c2q,
    sim1, sim2, sim3, sim4, sim5,
    x1, x2, x3, x4, x5, x6, x7, x8, x9, x9b, x9c, x9d, x10, x11, x11b, x12,
    x13, x14, x15, x15b, x16, x17,
    m1, m2, m3, e1, e1b, e2, e5, e5b, e5c, e9, e10, e10b,
    p1, p2, p3, p4, p5, p6, p6b, p6c, p7, p8, p9, p10, p11, p12, p13, p13b,
    p14, p15, p16, p16b, p17, p17b, p17c, p17e, p18, p19, p20, p22)
}
