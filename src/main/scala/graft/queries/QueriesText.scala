package graft.queries

import graft.functions.CacheRegistry.Shareable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Canon.round
import graft.Tables
import graft.text.TextOps

/** Deduplication + text-analysis operators over `documents` — the
  * training-data-pipeline surface (exact dedup, MinHash-LSH, SimHash with
  * band blocking, n-gram Jaccard, language-ID, quality scoring, token
  * counting, fingerprinting). All hashes route through md5 so engine and
  * oracle agree bit-for-bit.
  *
  * Scale notes: every pairwise candidate generation here is BLOCKED — LSH
  * bands (minhash), 4-bit simhash bands (pigeonhole-exact for hamming≤3),
  * or (lang, length-bucket) blocks (jaccard) — so the shuffles are
  * equi-joins on block keys and no O(N²) pair space is ever materialized.
  */
object QueriesText {
  type Q = (SparkSession, String) => DataFrame

  // ---- count-min sketch, exactly gated ---------------------------------
  // A CMS whose d=4 hash rows derive from md5 hex digits is fully
  // deterministic, so the sketch itself — not just its contract —
  // hash-matches the oracle. Counters are d·w = 4×64 integers (broadcast
  // side); words flow through one vocab-sized shuffle. Output: the
  // top-20 true-count words with their CMS estimate and overcount
  // (est ≥ true always; the gap is the sketch's collision error, the
  // quantity you size w against at 100 TB).
  private val CMSW = 64

  private def cmsCell(j: Int): Column =
    (TextOps.hexDigit(col("wmd5"), 2 * j + 1) * 16 +
      TextOps.hexDigit(col("wmd5"), 2 * j + 2)) % CMSW

  private val cmsEst: Q = (s, d) => {
    val wc = Tables.documents(s, d)
      .select(explode(TextOps.words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("wmd5", md5(col("w")))
    val wcells = wc.select(col("w"), col("cnt"),
      posexplode(array((0 until 4).map(cmsCell): _*)).as(Seq("j", "cell")))
      .persistShared() // read by the counter aggregate AND the estimate join
    val counters = wcells.groupBy("j", "cell").agg(sum("cnt").as("c"))
    wcells.join(broadcast(counters), Seq("j", "cell"))
      .groupBy("w", "cnt").agg(min("c").as("est"))
      .select(col("w").as("word"), col("cnt").as("true_cnt"),
        col("est").as("est_cnt"), (col("est") - col("cnt")).as("overcount"))
      .orderBy(col("true_cnt").desc, col("word").asc).limit(20)
  }

  private val cmsEstSql = {
    val cell = (j: String) =>
      s"""((strpos('0123456789abcdef', substr(m, 2 * $j + 1, 1)) - 1) * 16 +
           (strpos('0123456789abcdef', substr(m, 2 * $j + 2, 1)) - 1)) % $CMSW"""
    s"""WITH wc AS (SELECT w, count(*) AS cnt
                    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                    GROUP BY 1),
        h AS (SELECT w, cnt, md5(w) AS m FROM wc),
        cells AS (SELECT w, cnt, j, ${cell("j")} AS cell
                  FROM h, (SELECT unnest(range(4)) AS j)),
        counters AS (SELECT j, cell, sum(cnt) AS c FROM cells GROUP BY 1, 2),
        est AS (SELECT w, cnt, min(c) AS est
                FROM cells JOIN counters USING (j, cell) GROUP BY 1, 2)
        SELECT w AS word, cnt AS true_cnt, CAST(est AS BIGINT) AS est_cnt,
               CAST(est - cnt AS BIGINT) AS overcount
        FROM est ORDER BY cnt DESC, w ASC LIMIT 20"""
  }

  // ---- HyperLogLog distinct estimate, exactly gated ---------------------
  // The cardinality twin of a_cms_est: per-source distinct-3-gram counts
  // (the n-gram-cardinality question a dedup planner asks first) from a
  // 64-register HLL whose hash is md5 (idx = first-two-hex-digit value
  // mod 64; rank = leading-zero count of the next 48 bits + 1, via
  // length(bin(w48)) — both engines print minimal binary strings). Every
  // step is integer-exact: the harmonic-mean denominator Σ2^(−M[j]) is
  // kept scaled as Σ2^(49−M[j]) in a BIGINT (≤64·2^49 < 2^55), so the
  // register-merge order cannot perturb it; the small-range ln()
  // correction comes from a 64-entry precomputed literal table (ndcg
  // pattern). The sketch therefore hash-matches the oracle exactly while
  // still being a REAL estimator (rel_err column shows its accuracy
  // against the exact distinct). At 100 TB the shuffle after hashing
  // carries ≤ sources×64 register rows — this is the mergeable-state
  // shape that replaces count(DISTINCT) when exact counts stop fitting.
  private val HLLM = 64
  // shared with functions.HllAgg (the typed-Aggregator twin) so the two
  // implementations of the estimator cannot drift
  private val hllSmall: Seq[Double] = graft.functions.HllAgg.smallTab.toSeq

  private val hllEst: Q = (s, d) => {
    val wd = Tables.documents(s, d)
      .select(col("source"), TextOps.words(col("text")).as("ws"))
      .select(col("source"), explode(TextOps.shinglesOf(col("ws"), 3)).as("w"))
      .distinct()
      .withColumn("m", md5(col("w")))
      .persistShared() // registers AND the exact count read it
    val regs = wd.select(col("source"),
        graft.functions.HllCols.idx(col("m")).as("idx"),
        graft.functions.HllCols.rho(col("m")).as("rho"))
      .groupBy("source", "idx").agg(max("rho").as("r"))
    val sums = regs.groupBy("source")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 49 - r)")).as("sp"),
        count(lit(1)).as("mp"))
      .select(col("source"),
        (lit(HLLM.toLong) - col("mp")).as("vz"),
        (col("sp") + (lit(HLLM.toLong) - col("mp")) * lit(1L << 49)).as("sint"))
    val raw = (lit(0.709) * lit(4096.0) * lit(562949953421312.0)) /
      col("sint").cast("double")
    val smallArr = array(hllSmall.map(lit): _*)
    val est = sums.select(col("source"), col("vz"),
      when(raw <= 160.0 && col("vz") > 0,
        element_at(smallArr, col("vz").cast("int")))
        .otherwise(round(raw, 6)).as("hll_est"))
    wd.groupBy("source").agg(count(lit(1)).as("n_exact"))
      .join(est, "source")
      .select(col("source"), col("n_exact"), col("hll_est"),
        round((col("hll_est") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 6).as("rel_err"))
  }

  private val hllEstSql = {
    val smallList = hllSmall.mkString("[", ", ", "]")
    s"""WITH wd AS (SELECT DISTINCT source, w FROM
                      (SELECT source, unnest(${TextOps.shinglesSql("text")}) AS w
                       FROM documents)),
        h AS (SELECT source, w, md5(w) AS m FROM wd),
        r AS (SELECT source, ${graft.functions.HllCols.idxSql} AS idx,
                     max(${graft.functions.HllCols.rhoSql}) AS r
              FROM h GROUP BY 1, 2),
        sums AS (SELECT source,
                        CAST($HLLM - count(*) AS BIGINT) AS vz,
                        CAST(sum(CAST(1 AS BIGINT) << (49 - r)) AS BIGINT)
                          + ($HLLM - count(*)) * (CAST(1 AS BIGINT) << 49) AS sint
                 FROM r GROUP BY 1),
        est AS (SELECT source, vz,
                       -- e0 suffixes: DuckDB parses bare decimals as
                       -- DECIMAL and overflows this multiply chain
                       CASE WHEN ((0.709e0 * 4096e0) * 562949953421312e0)
                                 / CAST(sint AS DOUBLE) <= 160e0 AND vz > 0
                            THEN ($smallList)[CAST(vz AS INT)]
                            ELSE round(((0.709e0 * 4096e0) * 562949953421312e0)
                                       / CAST(sint AS DOUBLE), 6) END AS hll_est
                FROM sums),
        ex AS (SELECT source, count(*) AS n_exact FROM wd GROUP BY 1)
        SELECT source, n_exact, hll_est,
               round((hll_est - CAST(n_exact AS DOUBLE))
                     / CAST(n_exact AS DOUBLE), 6) AS rel_err
        FROM ex JOIN est USING (source)"""
  }

  // ---- exact dedup: hash-groupBy, keep lowest doc_id -------------------
  private val dedupExact: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  private val dedupExactSql =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
       FROM documents GROUP BY 1"""

  // ---- MinHash + LSH band join ----------------------------------------
  private val NHASH = 8
  private val BANDS = 4 // 2 hashes per band

  /** doc_id × shingle — deliberately NOT persisted: it is a NARROW
    * explode of the parquet scan (whole-stage codegen, no shuffle), and
    * its only direct consumers each cache their own aggregation of it
    * (shingleSet's distinct, the minhash signatures). Caching the
    * exploded table itself made warm runs SLOWER than cold at the 10×
    * fixture — reading a multi-GB columnar cache twice loses to
    * recomputing a cheap projection (measured on x_lsh_recall). */
  private def shingleTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      // words materialized first: shinglesOf slices an attribute array
      // instead of re-splitting the text per shingle element
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .select(col("doc_id"), explode(TextOps.shinglesOf(col("w"), 3)).as("sh"))

  /** DISTINCT (doc_id, shingle) — its own persist: the dedup shuffle
    * otherwise re-runs per consumer (containment/est/novelty each read
    * it up to three times: two join sides + sizes). CacheManager keys
    * on the logical plan, so every call shares one materialization. */
  private def shingleSet(s: SparkSession, d: String): DataFrame =
    shingleTable(s, d).distinct().persistShared()

  /** Per-doc SORTED shingle array + size — the candidate-verify unit
    * shared by x_minhash_est, x_dedup_containment and x_lsh_recall
    * (r14: est/containment previously verified by joining each pair
    * back to the exploded shingle table — a pairs × shingles
    * intermediate plus a (pair, shingle) shuffle; the sorted-array +
    * two-pointer MultisetIntersectSize kernel verifies in-row on the
    * pair table, the shape x_lsh_recall already measured as the
    * dominant-cost fix at sf1). CacheManager keys on the logical plan,
    * so all three consumers share one materialization. */
  private def docShingleArr(s: SparkSession, d: String): DataFrame =
    shingleSet(s, d).groupBy("doc_id")
      .agg(sort_array(collect_list(col("sh"))).as("arr"),
        count(lit(1)).as("sz"))
      .persistShared()

  private def signatures(s: SparkSession, d: String): DataFrame =
    shingleTable(s, d)
      .groupBy("doc_id")
      .agg(TextOps.minhashAgg(0), (1 until NHASH).map(TextOps.minhashAgg): _*)

  private val signaturesSqlCte: String = {
    val aggs = (0 until NHASH).map(TextOps.minhashAggSql).mkString(", ")
    s"""SELECT doc_id, $aggs
        FROM (SELECT doc_id, unnest(${TextOps.shinglesSql("text")}) AS sh
              FROM documents)
        GROUP BY doc_id"""
  }

  // One banded self-join (signatures exploded to (band_id, band_val)
  // bucket rows) instead of one join per band — the signature subtree is
  // evaluated twice, not 2×BANDS times, and the join shuffles once on the
  // composite bucket key.
  // The candidate-pair frame is persisted (tiny: one row per LSH
  // candidate pair) because the whole QA family reads it — the query
  // itself, x_minhash_est (twice: exact-intersection build + final
  // join), x_lsh_recall, x_dedup_containment. Without it each consumer
  // re-ran the banded self-join: x_minhash_est regressed 3.8× in round
  // 4 purely on this recompute. CacheManager keys on the logical plan,
  // so every dedupMinhash(s, d) call shares one materialization.
  private val dedupMinhash: Q = (s, d) => dedupMinhashBuild(s, d).persistShared()

  private val dedupMinhashBuild: Q = (s, d) => {
    // persist: both sides of the banded self-join read the signatures —
    // one materialization instead of two 8-way min aggregates over the
    // shingle table. (doc_id + 8 hex slices per doc: tiny.)
    val sig = signatures(s, d).persistShared()
    val bandVals = array((0 until BANDS).map(b =>
      concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))): _*)
    val banded = sig.select(col("*"),
      posexplode(bandVals).as(Seq("band_id", "band_val")))
    val right = banded.toDF(banded.columns.toIndexedSeq.map("r_" + _): _*)
    val eq = (0 until NHASH).map(i =>
      when(col(s"mh$i") === col(s"r_mh$i"), 1).otherwise(0)).reduce(_ + _)
    banded.join(right, col("band_id") === col("r_band_id") &&
        col("band_val") === col("r_band_val") &&
        col("doc_id") < col("r_doc_id"))
      .select(col("doc_id").as("a_id"), col("r_doc_id").as("b_id"),
        (eq.cast("double") / NHASH).as("sim_est"))
      .groupBy("a_id", "b_id")
      .agg(round(max("sim_est"), 6).as("sim_est"))
  }

  private val dedupMinhashSql = {
    val bandVal = (0 until BANDS).map(b =>
      s"WHEN $b THEN mh${2 * b} || mh${2 * b + 1}").mkString(" ")
    val eq = (0 until NHASH).map(i =>
      s"(CASE WHEN l.mh$i = r.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH sig AS ($signaturesSqlCte),
        banded AS (SELECT sig.*, band_id,
                          CASE band_id $bandVal END AS band_val
                   FROM sig, (SELECT unnest(range($BANDS)) AS band_id))
        SELECT l.doc_id AS a_id, r.doc_id AS b_id,
               round(max(CAST($eq AS DOUBLE) / $NHASH), 6) AS sim_est
        FROM banded l JOIN banded r
          ON l.band_id = r.band_id AND l.band_val = r.band_val
         AND l.doc_id < r.doc_id
        GROUP BY 1, 2"""
  }

  // ---- SimHash (63-bit) with exact band blocking — the Manku et al.
  // 2007 (WWW '07) web-dedup shape: hamming≤3 over 4 disjoint 16-bit
  // blocks ⇒ ≥1 block equal (pigeonhole), so band blocking has recall
  // 1.0 for the hamming cut BY CONSTRUCTION at any width. 16-bit bands
  // (65536 buckets) hold the band-collision mass at N²/2^16 — the r14
  // sf3 sweep caught the previous 32-bit/8-bit-band form going
  // quadratic (4.3× wall for 3× data) because 256 buckets saturate.
  // 63 bits, not 64: bit 63 stays clear so the signature is a positive
  // BIGINT in both engines (no sign-extension/overflow edge to match).
  // Dims 1–32 come from md5(w) hex digits, 33–63 from md5('x2'||w).
  private[queries] val SIMHASH_DIMS = 63
  private def simhashes(s: SparkSession, d: String): DataFrame = {
    // Count (doc, word) pairs first, then md5 + hex-extract once per
    // DISTINCT vocabulary word (broadcast back onto the counts) instead of
    // once per word instance — the md5 pass drops from |instances| to
    // |vocabulary|. Exactness: each term is cnt·(digit − 7.5), a multiple
    // of 0.5 with partial sums ≪ 2^53, so the regrouped sum is
    // bit-identical to the oracle's per-instance fold.
    val wc = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val vocab = wc.select("w").distinct()
      .withColumn("wmd5", md5(col("w")))
      .withColumn("wmd5b", md5(concat(lit("x2"), col("w"))))
      .select(col("w") +: (1 to SIMHASH_DIMS).map { p =>
        val (src, pos) = if (p <= 32) ("wmd5", p) else ("wmd5b", p - 32)
        (expr(s"instr('0123456789abcdef', substr($src, $pos, 1))") - 1 -
          lit(7.5)).as(s"d$p")
      }: _*)
    val sums = (1 to SIMHASH_DIMS).map(p => sum(col("c") * col(s"d$p")).as(s"s$p"))
    val agg = wc.join(broadcast(vocab), "w").groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
    agg.select(col("doc_id"),
      TextOps.simhashFromSums((1 to SIMHASH_DIMS).map(p => col(s"s$p")))
        .as("simhash"))
  }

  private val simhashSqlCte: String = {
    val sums = (1 to SIMHASH_DIMS).map { p =>
      val src = if (p <= 32) "md5(w)" else "md5('x2' || w)"
      val pos = if (p <= 32) p else p - 32
      s"sum(strpos('0123456789abcdef', substr($src, $pos, 1)) - 1 - 7.5) AS s$p"
    }.mkString(", ")
    val bits = (1 to SIMHASH_DIMS).map(p =>
      s"(CASE WHEN s$p > 0.0 THEN CAST(${1L << (p - 1)} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""SELECT doc_id, $bits AS simhash FROM (
          SELECT doc_id, $sums
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
          GROUP BY doc_id)"""
  }

  private val dedupSimhash: Q = (s, d) => {
    // persist: the banded self-join references the signature frame on
    // both sides — without it the whole (word-count ⋈ vocab → 32-sum)
    // pipeline executes twice. The frame is (doc_id, long): tiny.
    val sh = simhashes(s, d).persistShared()
    val bandVals = array((0 until 4).map(b =>
      shiftright(col("simhash"), 16 * b).bitwiseAND(65535)): _*)
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(bandVals).as(Seq("band_id", "band_val")))
    val right = banded.toDF("r_doc_id", "r_simhash", "r_band_id", "r_band_val")
    banded.join(right, col("band_id") === col("r_band_id") &&
        col("band_val") === col("r_band_val") &&
        col("doc_id") < col("r_doc_id"))
      .select(col("doc_id").as("a_id"), col("r_doc_id").as("b_id"),
        bit_count(col("simhash").bitwiseXOR(col("r_simhash"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
  }

  private val dedupSimhashSql = {
    val bandVal = (0 until 4).map(b =>
      s"WHEN $b THEN (simhash >> ${16 * b}) & 65535").mkString(" ")
    s"""WITH sh AS ($simhashSqlCte),
        banded AS (SELECT doc_id, simhash, band_id,
                          CASE band_id $bandVal END AS band_val
                   FROM sh, (SELECT unnest(range(4)) AS band_id))
        SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id,
               CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
        FROM banded l JOIN banded r
          ON l.band_id = r.band_id AND l.band_val = r.band_val
         AND l.doc_id < r.doc_id
        WHERE bit_count(xor(l.simhash, r.simhash)) <= 3"""
  }

  // ---- MinHash containment (asymmetric near-dup) ------------------------
  // containment(A,B) = |A∩B| / |A| over shingle SETS, for the LSH
  // candidate pairs: the asymmetric twin of Jaccard that catches a short
  // document embedded verbatim in a longer one (Jaccard dilutes with the
  // size ratio; containment stays ≈1). Exact set intersection via a
  // (pair ⋈ shingles) equi-join — the pair space is the LSH candidates,
  // never rows².
  private val containment: Q = (s, d) => {
    // r14: exact intersection via the shared sorted-array + two-pointer
    // kernel on the pair table (see docShingleArr) instead of the
    // (pair ⋈ shingles ⋈ shingles) fan-out + (pair, shingle)-keyed
    // re-aggregate. The inter ≥ 1 filter reproduces the old inner
    // equi-join's semantics (pairs with no common shingle never
    // surfaced a row).
    val cand = dedupMinhash(s, d).select("a_id", "b_id")
    val docArr = docShingleArr(s, d)
    cand
      .join(docArr.select(col("doc_id").as("a_id"), col("arr").as("a_arr"),
        col("sz").as("a_sz")), "a_id")
      .join(docArr.select(col("doc_id").as("b_id"), col("arr").as("b_arr"),
        col("sz").as("b_sz")), "b_id")
      .withColumn("inter",
        graft.text.GramExprs.multisetIntersectSize(col("a_arr"), col("b_arr")))
      .filter(col("inter") >= 1L)
      .select(col("a_id"), col("b_id"), col("inter"),
        round(col("inter").cast("double") / col("a_sz").cast("double"), 6).as("cont_a"),
        round(col("inter").cast("double") / col("b_sz").cast("double"), 6).as("cont_b"))
  }

  private val containmentSql =
    s"""WITH cand AS (SELECT a_id, b_id FROM ($dedupMinhashSql)),
        shd AS (SELECT DISTINCT doc_id, sh
                FROM (SELECT doc_id, unnest(${TextOps.shinglesSql("text")}) AS sh
                      FROM documents)),
        sz AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY 1),
        i AS (SELECT a_id, b_id, count(*) AS inter
              FROM cand JOIN shd a ON a.doc_id = cand.a_id
                        JOIN shd b ON b.doc_id = cand.b_id AND b.sh = a.sh
              GROUP BY 1, 2)
        SELECT a_id, b_id, inter,
               round(CAST(inter AS DOUBLE) / CAST(sa.sz AS DOUBLE), 6) AS cont_a,
               round(CAST(inter AS DOUBLE) / CAST(sb.sz AS DOUBLE), 6) AS cont_b
        FROM i JOIN sz sa ON sa.doc_id = i.a_id JOIN sz sb ON sb.doc_id = i.b_id"""

  // ---- n-gram language-model scoring (perplexity-style quality filter) --
  // A unigram-of-3-grams LM trained on the whole corpus, broadcast back
  // onto each document's shingles; the per-doc mean negative
  // log-likelihood is the perplexity-filter score used to drop gibberish
  // from training data. Per-gram log-probs are 1e-6-quantized to integers
  // at the source (floor(x*1e6 + 0.5) — one libm call per DISTINCT gram,
  // not per token), so doc-level sums are exact under any merge order.
  // Reuses the SESSION-SHARED persisted shingle table (minhash/
  // clustering/fingerprint/winnowing), so the corpus explode runs once
  // with no query-private cache.
  private val charlmPpl: Q = (s, d) => {
    val grams = shingleTable(s, d).withColumnRenamed("sh", "g")
    val lm = grams.groupBy("g").agg(count(lit(1)).as("c"))
    val lp = lm.crossJoin(broadcast(lm.agg(sum("c").as("tot"))))
      .select(col("g"),
        floor(log(col("c").cast("double") / col("tot").cast("double")) * 1e6
          + 0.5).cast("long").as("lp6"))
    grams.join(broadcast(lp), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        round(-sum(col("lp6")).cast("double") / 1e6 /
          count(lit(1)).cast("double"), 6).as("avg_nll"))
  }

  private val charlmPplSql =
    s"""WITH gr AS (SELECT doc_id,
                           unnest(${TextOps.shinglesSql("text")}) AS g
                    FROM documents),
        lm AS (SELECT g, count(*) AS c FROM gr GROUP BY 1),
        t AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM lm),
        lp AS (SELECT g, CAST(floor(ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)) * 1e6
                               + 0.5) AS BIGINT) AS lp6
               FROM lm, t)
        SELECT doc_id, count(*) AS n_grams,
               round(-CAST(sum(lp6) AS BIGINT) / 1e6 / count(*), 6) AS avg_nll
        FROM gr JOIN lp USING (g) GROUP BY 1"""

  // ---- interpolated Kneser-Ney bigram LM --------------------------------
  // The smoothing a real LM-based quality filter uses (vs x_charlm_ppl's
  // raw MLE): P(w2|w1) = (c12 − D)/c1 + (D·N1+(w1,·)/c1)·(N1+(·,w2)/B)
  // with D = 0.75 — absolute discounting + the continuation-probability
  // backoff that scores words by how many CONTEXTS they follow, not raw
  // frequency. All counts are exact integers from three aggregates over
  // the bigram-type table (type-sized, ≪ token-sized); per-TYPE log
  // probs are 1e-6-quantized at source, so per-doc sums are exact.
  private val KND = 0.75

  private def bigramTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .select(col("doc_id"), explode(TextOps.shinglesOf(col("w"), 2)).as("g"))
      .persistShared()

  /** Per-doc exact-integer KN NLL state (doc_id, nb = bigram count,
    * snll6 = −Σ lp6 in 1e-6 log units) — shared by x_kn_ppl and the
    * CCNet-style bucketing; all-integer until the caller's one final
    * division, so any consumer's aggregation order is safe. */
  private def docNll(s: SparkSession, d: String): DataFrame = {
    val grams = bigramTable(s, d)
    val lm = grams.groupBy("g").agg(count(lit(1)).as("c2"))
      .select(col("g"), col("c2"),
        split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
      .persistShared()
    val ctx = lm.groupBy("w1")
      .agg(sum("c2").as("c1"), count(lit(1)).as("n1fw"))
    val bw = lm.groupBy("w2").agg(count(lit(1)).as("n1bw"))
    val bTot = lm.agg(count(lit(1)).as("bt"))
    val p = (col("c2").cast("double") - lit(KND)) / col("c1").cast("double") +
      ((lit(KND) * col("n1fw").cast("double")) / col("c1").cast("double")) *
        (col("n1bw").cast("double") / col("bt").cast("double"))
    val lp = lm.join(ctx, "w1").join(bw, "w2").crossJoin(broadcast(bTot))
      .select(col("g"), floor(log(p) * 1e6 + 0.5).cast("long").as("lp6"))
    grams.join(lp, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nb"), (-sum(col("lp6"))).as("snll6"))
      .persistShared()
  }

  private val knPpl: Q = (s, d) =>
    docNll(s, d).select(col("doc_id"), col("nb").as("n_bigrams"),
      round(col("snll6").cast("double") / 1e6 /
        col("nb").cast("double"), 6).as("kn_avg_nll"))

  // the shared CTE chain for the bigram-KN layer — consumed by both the
  // x_kn_ppl oracle and the x_ccnet_buckets oracle (mirror of docNll)
  private val knCtes =
    s"""gr AS (SELECT doc_id, unnest(${TextOps.shinglesSql("text", 2)}) AS g
               FROM documents),
        lm AS (SELECT g, count(*) AS c2,
                      string_split(g, ' ')[1] AS w1,
                      string_split(g, ' ')[2] AS w2
               FROM gr GROUP BY 1),
        ctx AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1, count(*) AS n1fw
                FROM lm GROUP BY 1),
        bw AS (SELECT w2, count(*) AS n1bw FROM lm GROUP BY 1),
        t AS (SELECT count(*) AS bt FROM lm),
        lp AS (SELECT g,
                      CAST(floor(ln((CAST(c2 AS DOUBLE) - $KND) / CAST(c1 AS DOUBLE)
                                    + (($KND * CAST(n1fw AS DOUBLE)) / CAST(c1 AS DOUBLE))
                                      * (CAST(n1bw AS DOUBLE) / CAST(bt AS DOUBLE)))
                                 * 1e6 + 0.5) AS BIGINT) AS lp6
               FROM lm JOIN ctx USING (w1) JOIN bw USING (w2), t)"""

  private val knPplSql =
    s"""WITH $knCtes
        SELECT doc_id, count(*) AS n_bigrams,
               round(-CAST(sum(lp6) AS BIGINT) / 1e6 / count(*), 6) AS kn_avg_nll
        FROM gr JOIN lp USING (g) GROUP BY 1"""

  // ---- CCNet-style perplexity bucketing (Wenzek et al. 2020) -----------
  // CCNet splits each language's documents into head/middle/tail by
  // language-model perplexity terciles. Per-doc NLL comes from the same
  // exact-integer KN state as x_kn_ppl (docNll); the per-language
  // tercile THRESHOLDS come from ExactQuantile.groupedNthsByRadix — 4
  // histogram scans total for every language's two order statistics in
  // lockstep, instead of a PARTITION BY lang window that would funnel
  // each language's whole corpus through one task (languages are few
  // and data-heavy: exactly the grouped-radix contract). Buckets are
  // value-threshold semantics (ties share a bucket), mirrored in SQL by
  // computing the same rank statistic.
  private val ccnetBuckets: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val scored = docs.join(docNll(s, d), "doc_id")
      .withColumn("inll", floor(col("snll6").cast("double") /
        col("nb").cast("double") + 0.5).cast("long"))
      .persistShared()
    val counts = scored.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // ≤ |langs|
    val ranks: Map[String, Seq[Long]] = counts.map { case (l, n) =>
      l -> Seq(math.ceil(n / 3.0).toLong - 1, math.ceil(2 * n / 3.0).toLong - 1)
    }
    val nths = graft.functions.ExactQuantile
      .groupedNthsByRadix(scored, "lang", "inll", ranks)
    val thr = counts.keys.toSeq.sorted.map { l =>
      val Seq(r1, r2) = ranks(l)
      (l, nths(l)(r1).toLong, nths(l)(r2).toLong)
    }
    import s.implicits._
    scored.join(broadcast(thr.toDF("lang", "t1", "t2")), "lang")
      .withColumn("bucket", lit(1) + (col("inll") > col("t1")).cast("int") +
        (col("inll") > col("t2")).cast("int"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("nb").as("n_bigrams"),
        round(sum("snll6").cast("double") / 1e6 /
          sum("nb").cast("double"), 6).as("avg_nll"))
  }

  private val ccnetBucketsSql =
    s"""WITH $knCtes,
        dn AS (SELECT doc_id, count(*) AS nb, CAST(-sum(lp6) AS BIGINT) AS snll6
               FROM gr JOIN lp USING (g) GROUP BY 1),
        sc AS (SELECT d.lang, dn.doc_id, nb, snll6,
                      CAST(floor(CAST(snll6 AS DOUBLE) / nb + 0.5) AS BIGINT) AS inll
               FROM dn JOIN documents d USING (doc_id)),
        rk AS (SELECT lang, inll,
                      row_number() OVER (PARTITION BY lang ORDER BY inll) AS rn,
                      count(*) OVER (PARTITION BY lang) AS n
               FROM sc),
        thr AS (SELECT lang,
                       max(CASE WHEN rn = CAST(ceil(n / 3.0) AS BIGINT)
                           THEN inll END) AS t1,
                       max(CASE WHEN rn = CAST(ceil(2 * n / 3.0) AS BIGINT)
                           THEN inll END) AS t2
                FROM rk GROUP BY 1)
        SELECT sc.lang,
               1 + CAST(inll > t1 AS INT) + CAST(inll > t2 AS INT) AS bucket,
               count(*) AS n_docs, CAST(sum(nb) AS BIGINT) AS n_bigrams,
               round(CAST(sum(snll6) AS BIGINT) / 1e6 / CAST(sum(nb) AS BIGINT), 6) AS avg_nll
        FROM sc JOIN thr USING (lang)
        GROUP BY 1, 2"""

  // ---- trigram Kneser-Ney (backoff chain through the bigram layer) ------
  // P₃(w3|w1w2) = (c123 − D)/c12 + (D·N1+(w1w2,·)/c12) · P₂(w3|w2), with
  // P₂ EXACTLY the interpolated bigram KN above — the hierarchical
  // backoff chain a real n-gram LM runs (middle layer uses raw bigram
  // counts rather than continuation counts: the common
  // raw-backoff simplification, shared by both engines and stated here
  // rather than hidden). Everything flows through TYPE tables (trigram
  // types ⋈ bigram types on (w2,w3)); per-type log-probs are
  // 1e-6-quantized so per-doc sums stay exact.
  private def trigramTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .select(col("doc_id"), explode(TextOps.shinglesOf(col("w"), 3)).as("g"))
      .persistShared()

  private val kn3Ppl: Q = (s, d) => {
    val grams3 = trigramTable(s, d)
    val lm3 = grams3.groupBy("g").agg(count(lit(1)).as("c123"))
      .select(col("g"), col("c123"),
        concat_ws(" ", split(col("g"), " ").getItem(0),
          split(col("g"), " ").getItem(1)).as("ctx"),
        concat_ws(" ", split(col("g"), " ").getItem(1),
          split(col("g"), " ").getItem(2)).as("bg"))
      .persistShared()
    val ctx3 = lm3.groupBy("ctx")
      .agg(sum("c123").as("c12"), count(lit(1)).as("n1fw12"))
    // bigram interpolated-KN layer (same derivation as x_kn_ppl)
    val grams2 = bigramTable(s, d)
    val lm2 = grams2.groupBy("g").agg(count(lit(1)).as("c2"))
      .select(col("g").as("bg"), col("c2"),
        split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
      .persistShared()
    val ctx2 = lm2.groupBy("w1")
      .agg(sum("c2").as("c1"), count(lit(1)).as("n1fw"))
    val bw2 = lm2.groupBy("w2").agg(count(lit(1)).as("n1bw"))
    val bTot = lm2.agg(count(lit(1)).as("bt"))
    val p2 = (col("c2").cast("double") - lit(KND)) / col("c1").cast("double") +
      ((lit(KND) * col("n1fw").cast("double")) / col("c1").cast("double")) *
        (col("n1bw").cast("double") / col("bt").cast("double"))
    val pb = lm2.join(ctx2, "w1").join(bw2, "w2").crossJoin(broadcast(bTot))
      .select(col("bg"), p2.as("p2"))
    val p3 = (col("c123").cast("double") - lit(KND)) / col("c12").cast("double") +
      ((lit(KND) * col("n1fw12").cast("double")) / col("c12").cast("double")) *
        col("p2")
    val lp = lm3.join(ctx3, "ctx").join(pb, "bg")
      .select(col("g"), floor(log(p3) * 1e6 + 0.5).cast("long").as("lp6"))
    grams3.join(lp, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        round(-sum(col("lp6")).cast("double") / 1e6 /
          count(lit(1)).cast("double"), 6).as("kn3_avg_nll"))
  }

  private val kn3PplSql =
    s"""WITH gr3 AS (SELECT doc_id, unnest(${TextOps.shinglesSql("text", 3)}) AS g
                     FROM documents),
        lm3 AS (SELECT g, count(*) AS c123,
                       string_split(g, ' ')[1] || ' ' || string_split(g, ' ')[2] AS ctx,
                       string_split(g, ' ')[2] || ' ' || string_split(g, ' ')[3] AS bg
                FROM gr3 GROUP BY 1),
        ctx3 AS (SELECT ctx, CAST(sum(c123) AS BIGINT) AS c12, count(*) AS n1fw12
                 FROM lm3 GROUP BY 1),
        gr2 AS (SELECT doc_id, unnest(${TextOps.shinglesSql("text", 2)}) AS g
                FROM documents),
        lm2 AS (SELECT g AS bg, count(*) AS c2,
                       string_split(g, ' ')[1] AS w1,
                       string_split(g, ' ')[2] AS w2
                FROM gr2 GROUP BY 1),
        ctx2 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1, count(*) AS n1fw
                 FROM lm2 GROUP BY 1),
        bw2 AS (SELECT w2, count(*) AS n1bw FROM lm2 GROUP BY 1),
        t AS (SELECT count(*) AS bt FROM lm2),
        pb AS (SELECT bg,
                      (CAST(c2 AS DOUBLE) - $KND) / CAST(c1 AS DOUBLE)
                      + (($KND * CAST(n1fw AS DOUBLE)) / CAST(c1 AS DOUBLE))
                        * (CAST(n1bw AS DOUBLE) / CAST(bt AS DOUBLE)) AS p2
               FROM lm2 JOIN ctx2 USING (w1) JOIN bw2 USING (w2), t),
        lp AS (SELECT g,
                      CAST(floor(ln((CAST(c123 AS DOUBLE) - $KND) / CAST(c12 AS DOUBLE)
                                    + (($KND * CAST(n1fw12 AS DOUBLE)) / CAST(c12 AS DOUBLE))
                                      * p2)
                                 * 1e6 + 0.5) AS BIGINT) AS lp6
               FROM lm3 JOIN ctx3 USING (ctx) JOIN pb USING (bg))
        SELECT doc_id, count(*) AS n_trigrams,
               round(-CAST(sum(lp6) AS BIGINT) / 1e6 / count(*), 6) AS kn3_avg_nll
        FROM gr3 JOIN lp USING (g) GROUP BY 1"""

  // ---- winnowing fingerprints (MOSS) ------------------------------------
  // The document-fingerprint selection scheme of Schleimer/Wilkerson/
  // Aiken: hash every k-shingle, slide a window of W consecutive hashes,
  // keep each window's minimum — guaranteeing any match of length
  // ≥ W+k−1 shares a fingerprint while storing ~2/(W+1) of the hashes.
  // One partitionBy(doc) window with a bounded ROWS frame (per-doc
  // shingle counts are document-sized) → distinct selected hashes.
  private val WINN = 4
  private val winnow: Q = (s, d) => {
    // r15: repartition on doc_id BEFORE the explode+md5. The window
    // below needs hashpartitioning(doc_id) anyway, so the exchange
    // count is unchanged (the window reuses this one); what moves is
    // WHERE the exchange sits — it now ships each doc's raw text once
    // instead of its exploded (pos, shingle, md5) rows (~10× the
    // bytes), and the shingle+md5 work runs at full parallelism instead
    // of inside the scan task (the local fixture is one parquet file →
    // one scan partition, which serialized the whole hash pass).
    val sh = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .select(col("doc_id"),
        posexplode(TextOps.shinglesOf(col("w"), 3)).as(Seq("pos", "sh")))
      .withColumn("h", md5(col("sh")))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(WINN - 1), 0)
    sh.withColumn("wmin", min(col("h")).over(win))
      .filter(col("pos") >= WINN - 1)
      .groupBy("doc_id")
      .agg(countDistinct(col("wmin")).as("n_fingerprints"),
        min(col("wmin")).as("fp_min"),
        count(lit(1)).as("n_windows"))
  }

  private val winnowSql =
    s"""WITH sh AS (SELECT doc_id,
                           generate_subscripts(g, 1) - 1 AS pos,
                           md5(unnest(g)) AS h
                    FROM (SELECT doc_id, ${TextOps.shinglesSql("text")} AS g
                          FROM documents)),
        wm AS (SELECT doc_id, pos,
                      min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN ${WINN - 1} PRECEDING
                                            AND CURRENT ROW) AS wmin
               FROM sh)
        SELECT doc_id, count(DISTINCT wmin) AS n_fingerprints,
               min(wmin) AS fp_min, count(*) AS n_windows
        FROM wm WHERE pos >= ${WINN - 1} GROUP BY 1"""

  // ---- novelty / boilerplate scoring ------------------------------------
  // Per doc over its DISTINCT shingles: novelty = fraction unique to this
  // doc in the corpus (df = 1), boilerplate = fraction appearing in > 5%
  // of documents. The two ends of the curation dial: near-zero novelty =
  // duplicated/templated text, high boilerplate = navigation chrome. The
  // per-shingle df is a window count over the shingle key — unlike a
  // broadcast of the df table (which is SHINGLE-cardinality, i.e. grows
  // with the corpus and cannot broadcast at 100 TB), the window form is
  // one hash-partitioned shuffle on sh at any scale.
  private val novelty: Q = (s, d) => {
    val sh = shingleSet(s, d)
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .crossJoin(broadcast(nDocs))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        round(sum(when(col("df") === 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("novelty"),
        round(sum(when(col("df").cast("double") >
            col("n_docs").cast("double") * 0.05, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("boilerplate"))
  }

  private val noveltySql =
    s"""WITH shd AS (SELECT DISTINCT doc_id, sh
                     FROM (SELECT doc_id, unnest(${TextOps.shinglesSql("text")}) AS sh
                           FROM documents)),
        dfq AS (SELECT sh, count(*) AS df FROM shd GROUP BY 1),
        nd AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, count(*) AS n_shingles,
               round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     / CAST(count(*) AS DOUBLE), 6) AS novelty,
               round(CAST(sum(CASE WHEN CAST(df AS DOUBLE) >
                       CAST(n_docs AS DOUBLE) * 0.05 THEN 1 ELSE 0 END) AS BIGINT)
                     / CAST(count(*) AS DOUBLE), 6) AS boilerplate
        FROM shd JOIN dfq USING (sh), nd GROUP BY 1"""

  // ---- transitive near-dup clustering over the LSH pairs ----------------
  // cluster_id = min doc id reachable through candidate edges (iterative
  // min-label propagation; recursive-CTE transitive closure in the oracle)
  private val dedupClusters: Q = (s, d) =>
    graft.text.DedupCluster.connectedComponents(
      dedupMinhash(s, d).select("a_id", "b_id"))

  private val dedupClustersSql =
    s"""WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM ($dedupMinhashSql)),
        edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                  UNION SELECT b_id, a_id FROM pairs),
        r(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src)
        SELECT src AS doc_id,
               least(src, min(dst)) AS cluster_id
        FROM r GROUP BY src"""

  // ---- n-gram Jaccard within (lang, length-bucket) blocks ---------------
  private val jaccard: Q = (s, d) => {
    def base = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") / 100).cast("int").as("lb"), col("text"))
    // r14: three alternative shapes were measured cache-cold at sf0.1 —
    // the original below (explode → corpus distinct → sizes agg + two
    // join sides re-running the subtree) reads 0.92 s; adding
    // persistShared to the distinct frame reads 1.25 s (materialization
    // barrier > the duplicated subtree locally); replacing the DISTINCT
    // shuffle with per-row array_distinct + carried sizes reads 1.86 s
    // (two full array materializations per row are pure interpreted-CPU
    // regression). The original stays — it is the fastest measured form;
    // the persist variant is the documented 100-TB option (1 subtree +
    // 1 shuffle instead of 3 + 3) if this query's scale posture ever
    // dominates its local cost.
    val sh = base
      .select(col("doc_id"), col("lang"), col("lb"),
        TextOps.words(col("text")).as("w"))
      .select(col("doc_id"), col("lang"), col("lb"),
        explode(TextOps.shinglesOf(col("w"), 3)).as("sh")).distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val r = sh.toDF("r_doc_id", "r_lang", "r_lb", "r_sh")
    val inter = sh.join(r,
        col("sh") === col("r_sh") && col("lang") === col("r_lang") &&
        col("lb") === col("r_lb") && col("doc_id") < col("r_doc_id"))
      .groupBy(col("doc_id").as("a_id"), col("r_doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("a_id", "a_sz"), "a_id")
      .join(sizes.toDF("b_id", "b_sz"), "b_id")
      .select(col("a_id"), col("b_id"),
        round(col("inter").cast("double") /
          (col("a_sz") + col("b_sz") - col("inter")), 6).as("jaccard"))
  }

  private val jaccardSql =
    s"""WITH base AS (
          SELECT doc_id, lang, CAST(n_chars // 100 AS INT) AS lb, text
          FROM documents WHERE doc_id % 5 = 0),
        sh AS (SELECT DISTINCT doc_id, lang, lb, sh
               FROM (SELECT doc_id, lang, lb, unnest(${TextOps.shinglesSql("text")}) AS sh
                     FROM base)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        inter AS (
          SELECT l.doc_id AS a_id, r.doc_id AS b_id, count(*) AS inter
          FROM sh l JOIN sh r ON l.sh = r.sh AND l.lang = r.lang
                             AND l.lb = r.lb AND l.doc_id < r.doc_id
          GROUP BY 1, 2)
        SELECT a_id, b_id,
               round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = a_id
                   JOIN sizes sb ON sb.doc_id = b_id"""

  // ---- language-ID: weighted marker-bigram scoring ---------------------
  private val langMarkers: Seq[(String, String, String)] = Seq(
    ("en", "th", "er"), ("de", "ch", "ei"), ("es", "os", "la"),
    ("fr", "le", "ou"), ("zh", "sh", "ng"))

  private def occurrences(text: Column, m: String): Column =
    (length(text) - length(regexp_replace(text, m, ""))) / m.length

  private val langid: Q = (s, d) => {
    val scored = langMarkers.map { case (lang, m1, m2) =>
      Tables.documents(s, d).select(col("doc_id"), lit(lang).as("plang"),
        (occurrences(col("text"), m1) * 2 + occurrences(col("text"), m2))
          .cast("double").as("score"))
    }.reduce(_ unionAll _)
    scored.withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("plang").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("plang").as("predicted_lang"),
        round(col("score"), 6).as("score"))
  }

  private val langidSql = {
    val branches = langMarkers.map { case (lang, m1, m2) =>
      def occ(m: String) =
        s"((length(text) - length(regexp_replace(text, '$m', '', 'g'))) / ${m.length})"
      s"SELECT doc_id, '$lang' AS plang, CAST(${occ(m1)} * 2 + ${occ(m2)} AS DOUBLE) AS score FROM documents"
    }.mkString("\n UNION ALL \n")
    s"""SELECT doc_id, plang AS predicted_lang, round(score, 6) AS score
        FROM ( $branches )
        QUALIFY row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, plang ASC) = 1"""
  }

  // ---- quality scoring --------------------------------------------------
  private val quality: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id") +: TextOps.qualityCols(col("text"), col("n_chars")): _*)
      .select(col("doc_id"), col("n_words"),
        round(col("mean_word_len"), 6).as("mean_word_len"),
        round(col("stopword_ratio"), 6).as("stopword_ratio"),
        round(col("vowel_ratio"), 6).as("vowel_ratio"),
        round(col("quality_score"), 6).as("quality_score"))

  private val qualitySql =
    s"""SELECT doc_id, n_words, round(mean_word_len, 6) AS mean_word_len,
          round(stopword_ratio, 6) AS stopword_ratio,
          round(vowel_ratio, 6) AS vowel_ratio,
          round(quality_score, 6) AS quality_score
        FROM (SELECT doc_id, ${TextOps.qualitySql("text", "n_chars")} FROM documents)"""

  // ---- exact repeated-span dedup (Lee et al. 2021) ----------------------
  // "Deduplicating Training Data Makes Language Models Better" removes
  // substrings repeated verbatim across the corpus. The suffix-array
  // construction is a single-machine memory trick; the Spark-first form
  // of the same semantics at fixed span length K is a shingle-hash
  // group: every K-word span occurring in ≥2 DISTINCT documents is a
  // duplicated span, and each document reports how much of it is
  // covered by corpus-duplicated text. All stages are linear —
  // explode (rows × spans), one hash groupBy, one equi-join back —
  // no pair space, no suffix sort.
  private val SPAN_K = 20
  private val dedupSpans: Q = (s, d) => {
    val sp = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .select(col("doc_id"),
        explode(TextOps.shinglesOf(col("w"), SPAN_K)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("h"))
      .persistShared() // consumed by the dup set AND the coverage join
    val dup = sp.groupBy("h").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select(col("h"), lit(1L).as("isdup"))
    sp.join(dup, Seq("h"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("isdup"), lit(0L))).as("n_dup_spans"))
      .withColumn("dup_coverage", round(col("n_dup_spans").cast("double") /
        col("n_spans").cast("double"), 6))
  }

  private val dedupSpansSql =
    s"""WITH sp AS (SELECT doc_id, md5(sh) AS h
                    FROM (SELECT doc_id,
                                 unnest(${TextOps.shinglesSql("text", SPAN_K)}) AS sh
                          FROM documents)),
        dup AS (SELECT h, CAST(1 AS BIGINT) AS isdup
                FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM sp GROUP BY 1)
                WHERE nd >= 2)
        SELECT doc_id, count(*) AS n_spans,
               CAST(sum(COALESCE(isdup, 0)) AS BIGINT) AS n_dup_spans,
               round(CAST(sum(COALESCE(isdup, 0)) AS BIGINT)
                     / CAST(count(*) AS DOUBLE), 6) AS dup_coverage
        FROM sp LEFT JOIN dup USING (h)
        GROUP BY 1"""

  // ---- Gopher-style quality rules (Rae et al. 2021, App. A1.1 subset) ---
  // The published MassiveText document filters, as hard per-rule flags
  // plus the conjunction: word count in [50, 100k], mean word length in
  // [3, 10], ≥2 stopword hits, ≥80% words containing an alphabetic
  // character, symbol marks (# or …) ≤ 0.1·words. One narrow projection
  // per document, no shuffle at all until a consumer aggregates — the
  // filter a 100-TB corpus pass applies before any dedup/LSH work. Rules
  // compare against the same rounded/exact columns the query outputs, so
  // engine and oracle branch on identical values.
  private val gopherRules: Q = (s, d) => {
    val base = Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
      col("text"), TextOps.words(col("text")).as("w"))
    val nw = size(col("w")).cast("long")
    val meanLen = (col("n_chars") - (nw - 1)).cast("double") / nw.cast("double")
    val stopHits = size(filter(col("w"), x =>
      array_contains(array(TextOps.stopwords.map(lit): _*), x))).cast("long")
    val alphaWords = size(filter(col("w"), x => x.rlike("[a-z]"))).cast("long")
    val symbols = (length(regexp_replace(col("text"), "[^#]", "")) +
      size(expr("regexp_extract_all(text, '\\\\.\\\\.\\\\.', 0)"))).cast("long")
    base.select(col("doc_id"), nw.as("n_words"),
        round(meanLen, 6).as("mean_word_len"), stopHits.as("stop_hits"),
        alphaWords.as("alpha_words"), symbols.as("symbol_marks"))
      .withColumn("r_wordcount",
        (col("n_words") >= 50L && col("n_words") <= 100000L).cast("int"))
      .withColumn("r_meanlen",
        (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0).cast("int"))
      .withColumn("r_stop", (col("stop_hits") >= 2L).cast("int"))
      .withColumn("r_alpha", (col("alpha_words").cast("double") >=
        col("n_words").cast("double") * 0.8).cast("int"))
      .withColumn("r_symbol", (col("symbol_marks").cast("double") <=
        col("n_words").cast("double") * 0.1).cast("int"))
      .withColumn("keep", col("r_wordcount") * col("r_meanlen") *
        col("r_stop") * col("r_alpha") * col("r_symbol"))
  }

  private val gopherRulesSql = {
    val stop = TextOps.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH m AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               round(CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS mean_word_len,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> list_contains($stop, x))) AS BIGINT) AS stop_hits,
               CAST(len(list_filter(string_split(text, ' '),
                    x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
               CAST(length(regexp_replace(text, '[^#]', '', 'g'))
                    + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS symbol_marks
             FROM documents)
       SELECT doc_id, n_words, mean_word_len, stop_hits, alpha_words, symbol_marks,
              r_wordcount, r_meanlen, r_stop, r_alpha, r_symbol,
              r_wordcount * r_meanlen * r_stop * r_alpha * r_symbol AS keep
       FROM (SELECT *,
               CAST(n_words BETWEEN 50 AND 100000 AS INT) AS r_wordcount,
               CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS INT) AS r_meanlen,
               CAST(stop_hits >= 2 AS INT) AS r_stop,
               CAST(CAST(alpha_words AS DOUBLE) >= CAST(n_words AS DOUBLE) * 0.8 AS INT) AS r_alpha,
               CAST(CAST(symbol_marks AS DOUBLE) <= CAST(n_words AS DOUBLE) * 0.1 AS INT) AS r_symbol
             FROM m)"""
  }

  // ---- token counting, per source ---------------------------------------
  private val tokens: Q = (s, d) =>
    Tables.documents(s, d).select(col("source"),
        size(TextOps.words(col("text"))).as("nw"),
        ((col("n_chars") * 10 + 31) / 32).cast("long").as("bpe"),
        length(regexp_replace(col("text"), "[^aeiou]", "")).as("nv"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("ws_tokens"),
        sum("bpe").as("est_bpe_tokens"), sum("nv").as("vowel_chars"))

  // ---- regex pre-tokenizer counts ---------------------------------------
  // The BPE-style PRE-tokenization pass (GPT-2's splitter reduced to its
  // RE2-safe core: letter runs | digit runs | single non-alphanumeric) —
  // the real unit a byte-pair tokenizer would merge within, vs x_tokens's
  // chars/4-style estimate. One alternation pattern evaluated by BOTH
  // engines (plain classes, no lookahead — Java regex and DuckDB's RE2
  // agree exactly); counts are exact integers, one aggregate per source.
  private val TOKPAT = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  private val tokensRegex: Q = (s, d) =>
    Tables.documents(s, d).select(col("source"),
        size(expr(s"regexp_extract_all(text, '$TOKPAT', 0)")).cast("long").as("nt"),
        size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long").as("nl"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long").as("nd"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").as("regex_tokens"),
        sum("nl").as("letter_runs"),
        sum("nd").as("digit_runs"),
        max("nt").as("max_doc_tokens"))

  private val tokensRegexSql =
    s"""SELECT source, count(*) AS n_docs,
              CAST(sum(nt) AS BIGINT) AS regex_tokens,
              CAST(sum(nl) AS BIGINT) AS letter_runs,
              CAST(sum(nd) AS BIGINT) AS digit_runs,
              CAST(max(nt) AS BIGINT) AS max_doc_tokens
       FROM (SELECT source,
                    len(regexp_extract_all(text, '$TOKPAT')) AS nt,
                    len(regexp_extract_all(text, '[a-z]+')) AS nl,
                    len(regexp_extract_all(text, '[0-9]+')) AS nd
             FROM documents)
       GROUP BY 1"""

  // Sums CAST to BIGINT: DuckDB sum(INTEGER/BIGINT) -> HUGEINT, a
  // different serialized type than Spark's LongType (round-1 gate
  // recorded hash_match:false on identical values).
  private val tokensSql =
    """SELECT source, count(*) AS n_docs,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
              CAST(sum((n_chars * 10 + 31) // 32) AS BIGINT) AS est_bpe_tokens,
              CAST(sum(length(regexp_replace(text, '[^aeiou]', '', 'g'))) AS BIGINT) AS vowel_chars
       FROM documents GROUP BY 1"""

  // ---- document fingerprint (min/max shingle hash) ----------------------
  private val fingerprint: Q = (s, d) =>
    shingleTable(s, d)
      .groupBy("doc_id")
      .agg(min(md5(col("sh"))).as("fp_min"), max(md5(col("sh"))).as("fp_max"),
        count(lit(1)).as("n_shingles"))

  private val fingerprintSql =
    s"""SELECT doc_id, min(md5(sh)) AS fp_min, max(md5(sh)) AS fp_max,
          count(*) AS n_shingles
        FROM (SELECT doc_id, unnest(${TextOps.shinglesSql("text")}) AS sh
              FROM documents)
        GROUP BY 1"""

  // ---- block-level corpus dedup (the line-dedup of C4/RefinedWeb) -------
  // Docs are cut into consecutive NON-overlapping 10-token blocks (the
  // whitespace corpus has no newlines, so fixed token blocks stand in for
  // lines); a block is duplicated when its text occurs in ≥2 DISTINCT
  // documents. Per doc: block count, duplicated-block count, duplicated
  // fraction — the signal a curation pipeline thresholds to drop
  // boilerplate-heavy pages (or to strip the repeated blocks themselves).
  // Scale shape: blocks group/join on their 16-byte md5, never the block
  // text, so the shuffle carries fixed-width keys; both sides of the
  // df-join are the same exploded table (no O(N²) pair space anywhere —
  // this is dedup WITHOUT candidate pairs, unlike MinHash/SimHash).
  // Docs with <10 tokens have no blocks and are absent, matching the
  // oracle's empty generate_series.
  private val BLK = 10
  private val dedupBlocks: Q = (s, d) => {
    val blocks = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .select(col("doc_id"),
        when(size(col("w")) >= BLK,
          transform(sequence(lit(1), (size(col("w")) / BLK).cast("int")),
            i => md5(concat_ws(" ", slice(col("w"), (i - lit(1)) * BLK + 1, lit(BLK))))))
          .otherwise(array().cast("array<string>")).as("bs"))
      .select(col("doc_id"), explode(col("bs")).as("bk"))
      // persist: consumed by the per-block df aggregate AND the join
      // back — one md5-block explode pass instead of two
      .persistShared()
    val df = blocks.groupBy("bk")
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    blocks.join(df, "bk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_blocks"))
      .select(col("doc_id"), col("n_blocks"), col("n_dup_blocks"),
        round(col("n_dup_blocks").cast("double") /
          col("n_blocks").cast("double"), 6).as("dup_fraction"))
  }

  private val dedupBlocksSql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
                   FROM documents WHERE text IS NOT NULL),
        b AS (SELECT doc_id,
                     unnest(list_transform(
                       generate_series(1, greatest(len(w) // $BLK, 0)),
                       i -> md5(array_to_string(
                              w[(i - 1) * $BLK + 1:(i - 1) * $BLK + $BLK], ' ')))) AS bk
              FROM w),
        df AS (SELECT bk, count(DISTINCT doc_id) AS ndocs FROM b GROUP BY 1)
        SELECT doc_id, count(*) AS n_blocks,
               CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks,
               round(CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) AS dup_fraction
        FROM b JOIN df USING (bk) GROUP BY 1"""

  // ---- MinHash estimator quality vs exact Jaccard -----------------------
  // For every LSH candidate pair: the 8-slot signature-agreement estimate
  // next to the exact shingle-set Jaccard and their absolute error — the
  // measurement a pipeline owner uses to TUNE the signature width and band
  // shape before trusting the sketch at 100 TB (where only the estimate is
  // affordable corpus-wide; the exact join runs on the candidate pairs
  // alone, never rows²).
  private val minhashEst: Q = (s, d) => {
    // r14: same sorted-array kernel verify as x_dedup_containment — the
    // exact-intersection build used to fan each pair out by its full
    // shingle set (pairs × shingles rows through a (pair, shingle)
    // shuffle) and then LEFT-join the counts back; the in-row
    // two-pointer walk computes the identical count (0 for disjoint
    // pairs, which the old coalesce(inter, 0) handled) with no pair
    // fan-out at all.
    val cand = dedupMinhash(s, d)
    val docArr = docShingleArr(s, d)
    cand
      .join(docArr.select(col("doc_id").as("a_id"), col("arr").as("a_arr"),
        col("sz").as("a_sz")), "a_id")
      .join(docArr.select(col("doc_id").as("b_id"), col("arr").as("b_arr"),
        col("sz").as("b_sz")), "b_id")
      .withColumn("inter",
        graft.text.GramExprs.multisetIntersectSize(col("a_arr"), col("b_arr")))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("a_sz") + col("b_sz") - col("inter")).cast("double"), 6))
      .select(col("a_id"), col("b_id"), col("sim_est"), col("jaccard"),
        round(abs(col("sim_est") - col("jaccard")), 6).as("abs_err"))
  }

  private val minhashEstSql =
    s"""WITH cand AS ($dedupMinhashSql),
        shd AS (SELECT DISTINCT doc_id, sh
                FROM (SELECT doc_id, unnest(${TextOps.shinglesSql("text")}) AS sh
                      FROM documents)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY 1),
        inter AS (SELECT c.a_id, c.b_id, count(*) AS inter
                  FROM cand c
                  JOIN shd a ON a.doc_id = c.a_id
                  JOIN shd b ON b.doc_id = c.b_id AND b.sh = a.sh
                  GROUP BY 1, 2),
        j AS (SELECT c.a_id, c.b_id, c.sim_est,
                     round(CAST(coalesce(i.inter, 0) AS DOUBLE) /
                           CAST(sa.sz + sb.sz - coalesce(i.inter, 0) AS DOUBLE), 6)
                       AS jaccard
              FROM cand c
              LEFT JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
              JOIN sizes sa ON sa.doc_id = c.a_id
              JOIN sizes sb ON sb.doc_id = c.b_id)
        SELECT a_id, b_id, sim_est, jaccard,
               round(abs(sim_est - jaccard), 6) AS abs_err
        FROM j"""

  // ---- LSH recall vs exact ground truth ---------------------------------
  // The measurement that justifies an LSH deployment: of all pairs with
  // exact shingle-Jaccard ≥ τ, what fraction did the banded MinHash
  // candidates surface? Ground truth is exact, generated by PREFIX
  // FILTERING (Chaudhuri et al. SSJoin / Bayardo et al. "Scaling Up All
  // Pairs Similarity Search", WWW'07): order shingles globally by
  // document frequency ascending (shingle value as the tie pin); any
  // pair with J ≥ τ shares its order-minimal common shingle inside BOTH
  // docs' prefixes of length sz − ⌈τ·sz⌉ + 1, so joining prefixes only
  // loses nothing. Hot (high-df) shingles sort last and drop out of
  // every prefix — the quadratic hot-key blowup a raw shingle self-join
  // risks at 100 TB never materializes. The oracle SQL below keeps the
  // raw unpruned join, so the hash gate is a per-run proof that the
  // pruned plan is exact.
  private val LSH_TAU = 0.5
  private val lshRecall: Q = (s, d) => {
    val sh = shingleSet(s, d)
    // per-doc shingle ARRAYS + sizes — the verify unit (consumed four
    // times: two size joins, two array joins; r14: the SAME frame now
    // also verifies x_minhash_est / x_dedup_containment, so the shared
    // builder hands all three one materialization). Sorted ONCE at
    // build so the per-pair verify below is a pure two-pointer walk.
    val docArr = docShingleArr(s, d)
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    // per-doc prefix under the global (df asc, sh asc) order, cut by a
    // WINDOW RANK over the same doc partitioning (r15): rank ≤
    // sz − ceil(τ·sz) + 1 selects exactly the rows the former
    // collect_list(struct) + array_sort + slice + explode emitted
    // (struct arrays sort lexicographically — df first, sh as the tie
    // pin, and sh is distinct per doc), but nothing materializes a
    // per-doc array: the build is sort-based streaming inside one
    // exchange instead of an allocation storm per doc — the same §5
    // fragility class removed from m_chrf/m_bleu this round.
    val wDoc = Window.partitionBy("doc_id")
    val prefixes = sh.join(dfreq, "sh")
      .withColumn("rn", row_number().over(wDoc.orderBy(col("df"), col("sh"))))
      .withColumn("nsh", count(lit(1)).over(wDoc))
      .filter(col("rn") <= col("nsh") - ceil(lit(LSH_TAU) * col("nsh")) + 1)
      .select("doc_id", "sh")
      .persistShared() // both sides of the prefix self-join
    val pairs = prefixes.toDF("a_id", "sh")
      .join(prefixes.toDF("b_id", "sh"), Seq("sh"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    // exact verify on the candidate pairs alone — never rows², and
    // never pairs × shingles either: the first form joined each pair
    // back to the exploded shingle table (4M candidates × ~50 shingles
    // ≈ 200M intermediate rows — 37 s of the sf1 profile). Instead:
    // (1) the SSJoin length filter — J = I/(a+b−I) with I ≤ min gives
    //     J ≤ min/max, so min ≥ τ·max is necessary — prunes on the
    //     already-joined integer sizes before any array moves;
    // (2) surviving pairs join the per-doc SORTED shingle arrays and
    //     count the intersection in-row with the two-pointer
    //     MultisetIntersectSize codegen kernel (distinct elements ⇒
    //     multiset count = set count). The first array form used
    //     array_intersect, which allocates a per-row hash set + result
    //     array — the repertoire's dominant allocation hotspot at sf1
    //     (58 s in-suite vs 12 s standalone-cold, and a_stats11 read
    //     14.2 s vs 1.7 in its GC shadow). The kernel walk allocates
    //     nothing per row.
    val szOnly = docArr.select(col("doc_id"), col("sz"))
    val truth = pairs
      .join(szOnly.toDF("a_id", "a_sz"), "a_id")
      .join(szOnly.toDF("b_id", "b_sz"), "b_id")
      .filter(least(col("a_sz"), col("b_sz")).cast("double") >=
        lit(LSH_TAU) * greatest(col("a_sz"), col("b_sz")).cast("double"))
      .join(docArr.select(col("doc_id").as("a_id"), col("arr").as("a_arr")), "a_id")
      .join(docArr.select(col("doc_id").as("b_id"), col("arr").as("b_arr")), "b_id")
      .withColumn("inter",
        graft.text.GramExprs.multisetIntersectSize(col("a_arr"), col("b_arr")))
      .filter(col("inter").cast("double") /
        (col("a_sz") + col("b_sz") - col("inter")).cast("double") >= LSH_TAU)
      .select("a_id", "b_id")
    val cand = dedupMinhash(s, d).select("a_id", "b_id")
    truth.join(cand.withColumn("hit", lit(1L)), Seq("a_id", "b_id"), "left_outer")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_truth").cast("double"), 6)
          .as("recall"))
  }

  private val lshRecallSql =
    s"""WITH shd AS (SELECT DISTINCT doc_id, sh
                     FROM (SELECT doc_id, unnest(${TextOps.shinglesSql("text")}) AS sh
                           FROM documents)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY 1),
        truth AS (SELECT a_id, b_id
                  FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
                        FROM shd a JOIN shd b ON a.sh = b.sh AND a.doc_id < b.doc_id
                        GROUP BY 1, 2)
                  JOIN sizes sa ON sa.doc_id = a_id
                  JOIN sizes sb ON sb.doc_id = b_id
                  WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE)
                        >= $LSH_TAU),
        cand AS (SELECT a_id, b_id FROM ($dedupMinhashSql)),
        hits AS (SELECT count(*) AS n_truth,
                        CAST(sum(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
                 FROM truth t LEFT JOIN cand c
                   ON c.a_id = t.a_id AND c.b_id = t.b_id)
        SELECT n_truth, (SELECT count(*) FROM cand) AS n_cand, n_hit,
               round(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) AS recall
        FROM hits"""

  // ---- x_lsh_recall_sampled: the LINEAR-SCALE form of the recall audit --
  // x_lsh_recall's exact all-pairs ground truth is the fleet's one
  // inherently superlinear query (pair space grows with near-dup
  // density² — 13.5× wall at 10× data). At 100 TB a recall audit runs on
  // a deterministic DOC SAMPLE: both truth and candidates restrict to
  // docs with mix(doc_id) % 3 == 0 (~1/9 of the pair space), giving a
  // statistically equivalent recall estimate at linear-in-sample cost.
  // Same prefix-filter + SSJoin-length + in-row intersect machinery; the
  // full-corpus query stays as the exhaustive gate.
  private val LSH_SAMPLE_SALT = 55L
  private val lshRecallSampled: Q = (s, d) => {
    def sampled(c: Column) = graft.rng.Rand.mix(c, LSH_SAMPLE_SALT) % 3 === 0
    val sh = shingleSet(s, d).filter(sampled(col("doc_id")))
    // r15: the sampled per-doc arrays are a doc_id FILTER of the shared
    // docShingleArr (group-then-filter ≡ filter-then-group on the group
    // key), so the second collect_list/sort_array AGGREGATE this query
    // used to run — and its shuffle — is gone. The filtered frame is
    // still persisted (four consumers: two size joins, two array joins;
    // unpersisted they each re-read the 3×-larger full-corpus cache and
    // drop 2/3 of it, measured +0.4–0.7 s), but its build is now a pure
    // cached-read + filter: under memory pressure a rebuild costs one
    // map stage, not the aggregate storm whose driver-run reading was
    // 12.62 s at 32 cores in r14.
    val docArr = docShingleArr(s, d).filter(sampled(col("doc_id")))
      .persistShared()
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    // window-rank prefix cut — see x_lsh_recall above (identical row
    // set to the former sorted-array slice, no per-doc array build)
    val wDoc = Window.partitionBy("doc_id")
    val prefixes = sh.join(dfreq, "sh")
      .withColumn("rn", row_number().over(wDoc.orderBy(col("df"), col("sh"))))
      .withColumn("nsh", count(lit(1)).over(wDoc))
      .filter(col("rn") <= col("nsh") - ceil(lit(LSH_TAU) * col("nsh")) + 1)
      .select("doc_id", "sh")
      .persistShared()
    val pairs = prefixes.toDF("a_id", "sh")
      .join(prefixes.toDF("b_id", "sh"), Seq("sh"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val szOnly = docArr.select(col("doc_id"), col("sz"))
    val truth = pairs
      .join(szOnly.toDF("a_id", "a_sz"), "a_id")
      .join(szOnly.toDF("b_id", "b_sz"), "b_id")
      .filter(least(col("a_sz"), col("b_sz")).cast("double") >=
        lit(LSH_TAU) * greatest(col("a_sz"), col("b_sz")).cast("double"))
      .join(docArr.select(col("doc_id").as("a_id"), col("arr").as("a_arr")), "a_id")
      .join(docArr.select(col("doc_id").as("b_id"), col("arr").as("b_arr")), "b_id")
      .withColumn("inter",
        graft.text.GramExprs.multisetIntersectSize(col("a_arr"), col("b_arr")))
      .filter(col("inter").cast("double") /
        (col("a_sz") + col("b_sz") - col("inter")).cast("double") >= LSH_TAU)
      .select("a_id", "b_id")
    val cand = dedupMinhash(s, d).select("a_id", "b_id")
      .filter(sampled(col("a_id")) && sampled(col("b_id")))
    truth.join(cand.withColumn("hit", lit(1L)), Seq("a_id", "b_id"), "left_outer")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_truth").cast("double"), 6)
          .as("recall"))
  }

  private val lshRecallSampledSql = {
    def sampled(c: String) =
      s"(${graft.rng.Rand.mixSql(c, LSH_SAMPLE_SALT)}) % 3 = 0"
    s"""WITH shd AS (SELECT DISTINCT doc_id, sh
                     FROM (SELECT doc_id, unnest(${TextOps.shinglesSql("text")}) AS sh
                           FROM documents WHERE ${sampled("doc_id")})),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY 1),
        truth AS (SELECT a_id, b_id
                  FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
                        FROM shd a JOIN shd b ON a.sh = b.sh AND a.doc_id < b.doc_id
                        GROUP BY 1, 2)
                  JOIN sizes sa ON sa.doc_id = a_id
                  JOIN sizes sb ON sb.doc_id = b_id
                  WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE)
                        >= $LSH_TAU),
        cand AS (SELECT a_id, b_id FROM ($dedupMinhashSql)
                 WHERE ${sampled("a_id")} AND ${sampled("b_id")}),
        hits AS (SELECT count(*) AS n_truth,
                        CAST(sum(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
                 FROM truth t LEFT JOIN cand c
                   ON c.a_id = t.a_id AND c.b_id = t.b_id)
        SELECT n_truth, (SELECT count(*) FROM cand) AS n_cand, n_hit,
               round(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) AS recall
        FROM hits"""
  }

  // ---- language-ID confusion vs the labeled lang column -----------------
  // Curation QA for the classifier itself: confusion counts of predicted
  // vs labeled language, plus each cell's share of its actual-language
  // row count (exact integer ratio; the share window runs over ≤|langs|²
  // aggregated rows, never documents).
  private val langConfusion: Q = (s, d) =>
    langid(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("lang")).cast("double"), 6))

  private val langConfusionSql =
    s"""WITH pred AS ($langidSql)
        SELECT lang, predicted_lang, n,
               round(CAST(n AS DOUBLE) /
                     CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE), 6) AS share
        FROM (SELECT d.lang, p.predicted_lang, count(*) AS n
              FROM pred p JOIN documents d USING (doc_id)
              GROUP BY 1, 2)"""

  // ---- x_bpe_merges: two BPE tokenizer-training merge steps ------------
  // The byte-pair-encoding vocabulary-learning shape (Sennrich 2016;
  // every modern LLM tokenizer): count adjacent symbol pairs over the
  // WORD VOCABULARY weighted by word frequency, merge the most frequent
  // pair corpus-wide, recount, merge again. Each learned merge is
  // represented as one placeholder char (chr(1), chr(2)…) so a symbol
  // stays exactly one char and pair extraction stays substr(w, i, 2) at
  // every iteration; a merge application is leftmost non-overlapping
  // replace() — identical deterministic semantics in both engines.
  // Output: top-5 pairs (hex-rendered) per iteration with weighted
  // counts. Scale shape: one corpus-sized wordcount shuffle, then ALL
  // pair work runs on the DISTINCT-WORD vocabulary (bounded, zipfian) —
  // the reason real BPE trainers handle terabyte corpora; each further
  // merge repeats the same vocab-sized stage pair. Ties pin on
  // (count DESC, pair ASC).
  private val BPE_TOP = 5
  private def bpePairs(wc: DataFrame): DataFrame = wc
    .filter(length(col("w")) >= 2)
    .select(col("w"), col("cnt"),
      explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
    .select(expr("substring(w, i, 2)").as("p"), col("cnt"))
    .groupBy("p").agg(sum("cnt").as("n"))
  private def bpeTop(pairs: DataFrame, iter: Int): DataFrame = pairs
    .orderBy(col("n").desc, col("p").asc).limit(BPE_TOP)
    .select(lit(iter).as("iter"),
      row_number().over(Window.orderBy(col("n").desc, col("p").asc))
        .as("rank"),
      upper(hex(col("p"))).as("pair_hex"), col("n"))
  private val bpeMerges: Q = (s, d) => {
    val wc = Tables.documents(s, d)
      .select(explode(TextOps.words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .persistShared()
    val p1 = bpePairs(wc).persistShared()
    val win1 = p1.orderBy(col("n").desc, col("p").asc).limit(1)
      .select(col("p").as("wp"))
    val wc2 = wc.crossJoin(broadcast(win1))
      .select(expr("replace(w, wp, chr(1))").as("w"), col("cnt"))
      .groupBy("w").agg(sum("cnt").as("cnt"))
    bpeTop(p1, 1).unionAll(bpeTop(bpePairs(wc2), 2))
  }

  private val bpeMergesSql =
    s"""WITH wc AS (SELECT w, count(*) AS cnt
                    FROM (SELECT unnest(string_split(text, ' ')) AS w
                          FROM documents) GROUP BY 1),
        p1 AS (SELECT substr(w, i, 2) AS p, CAST(sum(cnt) AS BIGINT) AS n
               FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i
                     FROM wc WHERE len(w) >= 2)
               GROUP BY 1),
        win1 AS (SELECT p AS wp FROM p1 ORDER BY n DESC, p ASC LIMIT 1),
        wc2 AS (SELECT replace(w, (SELECT wp FROM win1), chr(1)) AS w,
                       CAST(sum(cnt) AS BIGINT) AS cnt
                FROM wc GROUP BY 1),
        p2 AS (SELECT substr(w, i, 2) AS p, CAST(sum(cnt) AS BIGINT) AS n
               FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i
                     FROM wc2 WHERE len(w) >= 2)
               GROUP BY 1),
        t1 AS (SELECT 1 AS iter,
                      CAST(row_number() OVER (ORDER BY n DESC, p ASC) AS INT)
                        AS rank,
                      upper(hex(p)) AS pair_hex, n
               FROM p1 ORDER BY n DESC, p ASC LIMIT $BPE_TOP),
        t2 AS (SELECT 2 AS iter,
                      CAST(row_number() OVER (ORDER BY n DESC, p ASC) AS INT)
                        AS rank,
                      upper(hex(p)) AS pair_hex, n
               FROM p2 ORDER BY n DESC, p ASC LIMIT $BPE_TOP)
        SELECT * FROM t1 UNION ALL SELECT * FROM t2"""

  // ---- x_bpe_apply: tokenize the corpus with the trained merges --------
  // The inference half of the BPE story (x_bpe_merges is training): learn
  // the top-2 merges corpus-wide exactly as the trainer does, then
  // SEGMENT every word with them — token count = symbol count after the
  // ordered leftmost-non-overlapping replace chain (merge 1 then merge 2,
  // placeholder chars keeping every symbol one char). Census per source:
  // word occurrences, post-merge token count, raw char count — the
  // tokens-per-doc accounting a training pipeline bills by. Scale shape:
  // one corpus-sized (source, word) count, vocab-sized merge training
  // (zipf-bounded), then the apply is a broadcast of TWO scalar pairs
  // against the (source, word) table — no corpus-sized re-scan, no pair
  // space.
  private val bpeApply: Q = (s, d) => {
    val wordsrc = Tables.documents(s, d)
      .select(col("source"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
      .persistShared()
    val wc = wordsrc.groupBy("w").agg(sum("cnt").as("cnt"))
    val win1 = bpePairs(wc).orderBy(col("n").desc, col("p").asc).limit(1)
      .select(col("p").as("wp1"))
    val wc2 = wc.crossJoin(broadcast(win1))
      .select(expr("replace(w, wp1, chr(1))").as("w"), col("cnt"))
      .groupBy("w").agg(sum("cnt").as("cnt"))
    val win2 = bpePairs(wc2).orderBy(col("n").desc, col("p").asc).limit(1)
      .select(col("p").as("wp2"))
    wordsrc.crossJoin(broadcast(win1)).crossJoin(broadcast(win2))
      .select(col("source"), col("cnt"),
        length(expr("replace(replace(w, wp1, chr(1)), wp2, chr(2))"))
          .cast("long").as("ntok"),
        length(col("w")).cast("long").as("nchr"))
      .groupBy("source")
      .agg(sum("cnt").as("n_words"),
        sum(col("ntok") * col("cnt")).as("n_tokens"),
        sum(col("nchr") * col("cnt")).as("n_chars"))
  }

  private val bpeApplySql =
    """WITH ws AS (SELECT source, w, count(*) AS cnt
                   FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                         FROM documents) GROUP BY 1, 2),
        wc AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS cnt FROM ws GROUP BY 1),
        p1 AS (SELECT substr(w, i, 2) AS p, CAST(sum(cnt) AS BIGINT) AS n
               FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i
                     FROM wc WHERE len(w) >= 2) GROUP BY 1),
        win1 AS (SELECT p AS wp1 FROM p1 ORDER BY n DESC, p ASC LIMIT 1),
        wc2 AS (SELECT replace(w, (SELECT wp1 FROM win1), chr(1)) AS w,
                       CAST(sum(cnt) AS BIGINT) AS cnt
                FROM wc GROUP BY 1),
        p2 AS (SELECT substr(w, i, 2) AS p, CAST(sum(cnt) AS BIGINT) AS n
               FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i
                     FROM wc2 WHERE len(w) >= 2) GROUP BY 1),
        win2 AS (SELECT p AS wp2 FROM p2 ORDER BY n DESC, p ASC LIMIT 1)
        SELECT source, CAST(sum(cnt) AS BIGINT) AS n_words,
               CAST(sum(len(replace(replace(w, (SELECT wp1 FROM win1), chr(1)),
                                    (SELECT wp2 FROM win2), chr(2))) * cnt)
                 AS BIGINT) AS n_tokens,
               CAST(sum(len(w) * cnt) AS BIGINT) AS n_chars
        FROM ws GROUP BY source"""

  // ---- m_bleu: corpus BLEU-2 against each language's canonical doc -----
  // The standard generation-eval metric (Papineni 2002), run as a corpus
  // census: every document scores BLEU-2 against its language's canonical
  // reference (the lang's min doc_id), i.e. modified n-gram precision
  // with per-gram clipping to the reference counts, geometric mean over
  // n=1,2 (sqrt — IEEE-exact), and the brevity penalty exp(1 − r/h)
  // floor-quantized to 1e-6 ints (the x_kn_ppl lp6 pattern) so both
  // engines bucket identically. Per-lang output: doc count, mean BLEU-2,
  // zero-score count. Scale shape: hypothesis grams are one corpus-sized
  // explode → hash aggregate; reference grams are |langs| documents —
  // broadcast by construction; clipping is an equi-join on (lang, n,
  // gram) against that broadcast. No pair space, no window.
  private val bleu: Q = (s, d) => {
    // r14: modified n-gram precision's clipped match count
    // Σ_g min(count_hyp(g), count_ref(g)) IS the multiset-intersection
    // size of the two gram multisets, so the corpus-sized gram explode +
    // (doc, n, gram) hash aggregate + per-gram broadcast join collapse
    // into the in-row two-pointer kernel against per-lang SORTED
    // reference arrays — exactly the shape m_chrf already runs
    // (measured there: 6.5 → ~1 s at sf0.1, zero gram shuffle).
    // r15: the per-doc sorted gram arrays are NOT cached any more —
    // same reasoning as m_chrf above (the corpus-wide array cache is
    // exactly the G1-humongous-batch footprint the driver's r14 run
    // collapsed under). Consumers join SLIM rows first and build their
    // arrays inline, each consumed exactly once: refIds is a
    // column-pruned (doc_id, lang) aggregate, refs builds arrays after
    // its |langs|-row broadcast join, and hyps' per-order totals come
    // from wl (t1 = wl, t2 = wl−1, exact for wl ≥ 2 — the hyp filter)
    // so no size(g) reference duplicates an array_sort subtree.
    // slim un-repartitioned scan for the broadcast builds; see m_chrf —
    // they touch only slim columns / |langs| docs
    val slim = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), TextOps.words(col("text")).as("w0"))
    // the per-lang min doc_id, keyed under a FRESH name: refIds, refs and
    // hyps all descend from the same scan, so every lang-keyed join among
    // them must join two distinct attribute names or Catalyst reads it as
    // an ambiguous self-join reference
    val refIds = slim.groupBy(col("lang").as("rl_lang"))
      .agg(min("doc_id").as("ref_id"))
    // a null-text reference keeps rl NULL (bp and b6 stay null, matching
    // the old left-join form) but empty ARRAYS, so the kernel still
    // counts 0 clipped matches exactly like the old coalesce(cr, 0)
    val emptyArr = typedLit(Seq.empty[String])
    // refs CARRIES its lang's ref_id — one broadcast join in the
    // hypothesis pass instead of a refIds-join + refs-join pair.
    val refs = slim.join(broadcast(refIds), col("doc_id") === col("ref_id"))
      .select(col("lang").as("r_lang"), col("ref_id"),
        size(col("w0")).cast("long").as("rl"),
        coalesce(array_sort(col("w0")), emptyArr).as("r1"),
        coalesce(array_sort(TextOps.shinglesOf(col("w0"), 2)), emptyArr).as("r2"))
    // deterministic hash repartition before the per-doc gram work — the
    // single-file documents scan otherwise serializes the whole
    // word/shingle array build into one task (see m_chrf)
    val base = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("lang"), TextOps.words(col("text")).as("w0"))
    base.join(broadcast(refs), col("lang") === col("r_lang"))
      .filter(col("doc_id") =!= col("ref_id") && size(col("w0")) >= 2)
      .select(col("doc_id"), col("lang"),
        graft.text.GramExprs.multisetIntersectSize(
          array_sort(col("w0")), col("r1")).as("m1"),
        size(col("w0")).cast("long").as("t1"),
        graft.text.GramExprs.multisetIntersectSize(
          array_sort(TextOps.shinglesOf(col("w0"), 2)), col("r2")).as("m2"),
        (size(col("w0")).cast("long") - 1).as("t2"),
        size(col("w0")).cast("long").as("hl"), col("rl"))
      .withColumn("bp", when(col("hl") >= col("rl"), lit(1.0))
        .otherwise(expr("exp(1.0 - CAST(rl AS DOUBLE) / hl)")))
      .withColumn("b6", expr(
        """CAST(floor(bp * sqrt((CAST(m1 AS DOUBLE) / t1)
                                * (CAST(m2 AS DOUBLE) / t2)) * 1e6 + 0.5)
           AS BIGINT)"""))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("b6")).cast("double") / 1e6 / count(lit(1)), 6)
          .as("avg_bleu2"),
        sum(when(col("b6") === 0, 1L).otherwise(0L)).as("n_zero"))
  }

  private val bleuSql =
    s"""WITH docs AS (SELECT doc_id, lang, text, string_split(text, ' ') AS w
                      FROM documents),
        refids AS (SELECT lang, min(doc_id) AS ref_id FROM docs GROUP BY 1),
        refs AS (SELECT d.lang, d.text AS rtext, len(d.w) AS rl
                 FROM docs d JOIN refids r ON d.doc_id = r.ref_id),
        hyps AS (SELECT d.doc_id, d.lang, d.text, len(d.w) AS hl
                 FROM docs d JOIN refids r ON d.lang = r.lang
                 WHERE d.doc_id <> r.ref_id AND len(d.w) >= 2),
        hg AS (SELECT doc_id, lang, n, g, count(*) AS ch FROM (
                 SELECT doc_id, lang, 1 AS n,
                        unnest(string_split(text, ' ')) AS g FROM hyps
                 UNION ALL
                 SELECT doc_id, lang, 2 AS n,
                        unnest(${TextOps.shinglesSql("text", 2)}) AS g FROM hyps)
               GROUP BY 1, 2, 3, 4),
        rg AS (SELECT lang, n, g, count(*) AS cr FROM (
                 SELECT lang, 1 AS n,
                        unnest(string_split(rtext, ' ')) AS g FROM refs
                 UNION ALL
                 SELECT lang, 2 AS n,
                        unnest(${TextOps.shinglesSql("rtext", 2)}) AS g FROM refs)
               GROUP BY 1, 2, 3),
        pc AS (SELECT doc_id, lang,
                      CAST(sum(CASE WHEN n = 1 THEN least(ch, COALESCE(cr, 0))
                               END) AS BIGINT) AS m1,
                      CAST(sum(CASE WHEN n = 1 THEN ch END) AS BIGINT) AS t1,
                      CAST(sum(CASE WHEN n = 2 THEN least(ch, COALESCE(cr, 0))
                               END) AS BIGINT) AS m2,
                      CAST(sum(CASE WHEN n = 2 THEN ch END) AS BIGINT) AS t2
               FROM hg LEFT JOIN rg USING (lang, n, g)
               GROUP BY 1, 2),
        b AS (SELECT p.lang,
                     CAST(floor(
                       (CASE WHEN h.hl >= r.rl THEN 1.0
                             ELSE exp(1.0 - CAST(r.rl AS DOUBLE) / h.hl) END)
                       * sqrt((CAST(m1 AS DOUBLE) / t1)
                              * (CAST(m2 AS DOUBLE) / t2)) * 1e6 + 0.5)
                       AS BIGINT) AS b6
              FROM pc p JOIN hyps h ON h.doc_id = p.doc_id
                        JOIN refs r ON r.lang = p.lang)
        SELECT lang, count(*) AS n_docs,
               round(CAST(sum(b6) AS DOUBLE) / 1e6 / count(*), 6) AS avg_bleu2,
               CAST(sum(CASE WHEN b6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        FROM b GROUP BY 1"""

  // ---- m_chrf: corpus chrF against each language's canonical doc --------
  // The character-n-gram F-score (Popović 2015) — the text-generation
  // eval that complements m_bleu's word n-grams: whitespace-stripped
  // char 3-grams and 6-grams, per-order precision AND recall (BLEU is
  // precision-only + brevity penalty; chrF's recall needs the per-lang
  // reference gram totals, one broadcast row per (lang, order)), F_β=2
  // per order, orders averaged. Same candidate/reference derivation as
  // m_bleu (per-lang min-doc_id reference, every other doc a hypothesis).
  // Same scale shape too: one corpus-sized gram explode, reference side
  // broadcast, no pair space. Per-doc scores are 1e-6-quantized before
  // the per-lang mean so the sum is merge-order-free.
  private val chrf: Q = (s, d) => {
    // guarded char n-grams: sequence(1, len-n+1) would run DESCENDING for
    // len < n (Spark fills [1, 0]), so short strings yield [] explicitly
    def grams(t: Column, n: Int): Column =
      when(length(t) >= n,
        transform(sequence(lit(1), length(t) - (n - 1)),
          i => t.substr(i, lit(n))))
        .otherwise(array())
    // SORTED gram arrays stay IN-ROW: the matched-gram counts come from
    // the native two-pointer kernel (text.MultisetIntersectSize) against
    // the broadcast per-lang reference arrays — Σ min(count_h, count_r)
    // exactly as the oracle's explode → least(ch, cr) → sum computes,
    // with zero gram shuffle (measured 6.5 → ~1 s at sf0.1; the explode
    // form shipped ~12M 6-char string keys through two hash aggregates).
    // r15: the gram arrays are NOT cached any more. The r14 form
    // persisted per-doc sorted g3/g6 for the whole corpus — at ~3×
    // text-size per doc the columnar cache batches run to ~10⁸ bytes,
    // i.e. G1 humongous allocations, and the m-family window carried
    // them for its full two-pass span (the driver's r14 run read m_chrf
    // at 6.02 s / 32 cores with this cache resident while the same tree
    // measured 0.8 s in three clean runs — a §5 memory failure, not a
    // plan failure). Instead every consumer joins SLIM rows first and
    // builds its arrays inline, each consumed exactly ONCE:
    //  - refIds needs only (doc_id, lang) — column-pruned scan;
    //  - refs builds arrays AFTER its broadcast ref_id join, i.e. for
    //    |langs| docs only;
    //  - hyps builds each array once, and the per-order totals come
    //    from tl (t3 = tl−2, t6 = tl−5 — exact for tl ≥ 8, the hyp
    //    filter), so no size(g) reference duplicates the array_sort
    //    subtree under CollapseProject (the r14-documented 3×-slower
    //    failure of the first slim-text attempt).
    // deterministic hash repartition BEFORE the per-doc gram work: the
    // local fixture's documents table is one small parquet file → ONE
    // scan partition, so without this every gram build+sort ran in a
    // single task no matter the core count (the reason the r14 cache
    // looked mandatory: it amortized a serialized build). The exchange
    // ships slim text rows once; the array build, sort and kernel then
    // run at full parallelism. Partition count derives from the session
    // (defaultParallelism), never a local constant.
    // the two broadcast builds (refIds, refs) read the RAW 1-partition
    // scan — they touch only slim columns / |langs| docs, and skipping
    // the repartition keeps each broadcast chain one stage shorter
    val slim = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        regexp_replace(col("text"), " ", "").as("t"))
    val refIds = slim.groupBy(col("lang").as("rl_lang"))
      .agg(min("doc_id").as("ref_id"))
    // refs CARRIES its lang's ref_id, so the hypothesis pass needs ONE
    // broadcast join (lang → reference row incl. the ref_id to exclude)
    // instead of the former refIds-join + refs-join pair.
    val refs = slim.join(broadcast(refIds), col("doc_id") === col("ref_id"))
      .select(col("lang").as("r_lang"), col("ref_id"),
        array_sort(grams(col("t"), 3)).as("rg3"),
        array_sort(grams(col("t"), 6)).as("rg6"))
    val base = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("lang"),
        regexp_replace(col("text"), " ", "").as("t"))
    val pc = base.join(broadcast(refs), col("lang") === col("r_lang"))
      .filter(col("doc_id") =!= col("ref_id") && length(col("t")) >= 8)
      .select(col("doc_id"), col("lang"),
        graft.text.GramExprs.multisetIntersectSize(
          array_sort(grams(col("t"), 3)), col("rg3")).as("m3"),
        (length(col("t")) - 2).cast("long").as("t3"),
        size(col("rg3")).cast("long").as("tr3"),
        graft.text.GramExprs.multisetIntersectSize(
          array_sort(grams(col("t"), 6)), col("rg6")).as("m6"),
        (length(col("t")) - 5).cast("long").as("t6"),
        size(col("rg6")).cast("long").as("tr6"))
    // F_β=2 per order (5PR / (4P + R)), orders averaged — ONE expression
    // text shared verbatim with the oracle
    val f = expr(
      """((CASE WHEN m3 > 0 THEN
            5.0 * (CAST(m3 AS DOUBLE) / t3) * (CAST(m3 AS DOUBLE) / tr3)
            / (4.0 * (CAST(m3 AS DOUBLE) / t3) + (CAST(m3 AS DOUBLE) / tr3))
          ELSE 0.0 END)
        + (CASE WHEN m6 > 0 THEN
            5.0 * (CAST(m6 AS DOUBLE) / t6) * (CAST(m6 AS DOUBLE) / tr6)
            / (4.0 * (CAST(m6 AS DOUBLE) / t6) + (CAST(m6 AS DOUBLE) / tr6))
          ELSE 0.0 END)) / 2.0""")
    pc.withColumn("c6", floor(f * 1e6 + 0.5).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("c6")).cast("double") / 1e6 / count(lit(1)), 6)
          .as("avg_chrf"),
        sum(when(col("c6") === 0, 1L).otherwise(0L)).as("n_zero"))
  }

  private val chrfSql = {
    def gramsSql(t: String, n: Int) =
      s"""CASE WHEN length($t) >= $n
          THEN list_transform(range(1, length($t) - ${n - 2}),
                              i -> substring($t, CAST(i AS INT), $n))
          ELSE [] END"""
    s"""WITH docs AS (SELECT doc_id, lang, replace(text, ' ', '') AS t
                      FROM documents),
        refids AS (SELECT lang, min(doc_id) AS ref_id FROM docs GROUP BY 1),
        refs AS (SELECT d.lang, d.t AS rt
                 FROM docs d JOIN refids r ON d.doc_id = r.ref_id),
        hyps AS (SELECT d.doc_id, d.lang, d.t
                 FROM docs d JOIN refids r ON d.lang = r.lang
                 WHERE d.doc_id <> r.ref_id AND length(d.t) >= 8),
        hg AS (SELECT doc_id, lang, n, g, count(*) AS ch FROM (
                 SELECT doc_id, lang, 3 AS n,
                        unnest(${gramsSql("t", 3)}) AS g FROM hyps
                 UNION ALL
                 SELECT doc_id, lang, 6 AS n,
                        unnest(${gramsSql("t", 6)}) AS g FROM hyps)
               GROUP BY 1, 2, 3, 4),
        rg AS (SELECT lang, n, g, count(*) AS cr FROM (
                 SELECT lang, 3 AS n, unnest(${gramsSql("rt", 3)}) AS g FROM refs
                 UNION ALL
                 SELECT lang, 6 AS n, unnest(${gramsSql("rt", 6)}) AS g FROM refs)
               GROUP BY 1, 2, 3),
        rtot AS (SELECT lang,
                        CAST(sum(CASE WHEN n = 3 THEN cr END) AS BIGINT) AS tr3,
                        CAST(sum(CASE WHEN n = 6 THEN cr END) AS BIGINT) AS tr6
                 FROM rg GROUP BY 1),
        pc AS (SELECT doc_id, hg.lang AS lang,
                      CAST(sum(CASE WHEN n = 3 THEN least(ch, COALESCE(cr, 0))
                               END) AS BIGINT) AS m3,
                      CAST(sum(CASE WHEN n = 3 THEN ch END) AS BIGINT) AS t3,
                      CAST(sum(CASE WHEN n = 6 THEN least(ch, COALESCE(cr, 0))
                               END) AS BIGINT) AS m6,
                      CAST(sum(CASE WHEN n = 6 THEN ch END) AS BIGINT) AS t6
               FROM hg LEFT JOIN rg USING (lang, n, g)
               GROUP BY 1, 2),
        sc AS (SELECT pc.lang,
                      CAST(floor(
                        ((CASE WHEN m3 > 0 THEN
                            5.0 * (CAST(m3 AS DOUBLE) / t3) * (CAST(m3 AS DOUBLE) / tr3)
                            / (4.0 * (CAST(m3 AS DOUBLE) / t3) + (CAST(m3 AS DOUBLE) / tr3))
                          ELSE 0.0 END)
                        + (CASE WHEN m6 > 0 THEN
                            5.0 * (CAST(m6 AS DOUBLE) / t6) * (CAST(m6 AS DOUBLE) / tr6)
                            / (4.0 * (CAST(m6 AS DOUBLE) / t6) + (CAST(m6 AS DOUBLE) / tr6))
                          ELSE 0.0 END)) / 2.0 * 1e6 + 0.5) AS BIGINT) AS c6
               FROM pc LEFT JOIN rtot ON rtot.lang = pc.lang)
        SELECT lang, count(*) AS n_docs,
               round(CAST(sum(c6) AS DOUBLE) / 1e6 / count(*), 6) AS avg_chrf,
               CAST(sum(CASE WHEN c6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        FROM sc GROUP BY 1"""
  }

  val queries: Map[String, Q] = Map(
    "m_chrf" -> chrf,
    "m_bleu" -> bleu,
    "x_minhash_est" -> minhashEst,
    "x_lang_confusion" -> langConfusion,
    "x_dedup_blocks" -> dedupBlocks,
    "a_cms_est" -> cmsEst,
    "x_bpe_merges" -> bpeMerges,
    "x_bpe_apply" -> bpeApply,
    "a_hll_est" -> hllEst,
    "x_lsh_recall" -> lshRecall,
    "x_lsh_recall_sampled" -> lshRecallSampled,
    "x_kn_ppl" -> knPpl,
    "x_tokens_regex" -> tokensRegex,
    "x_kn3_ppl" -> kn3Ppl,
    "x_dedup_exact" -> dedupExact,
    "x_dedup_spans" -> dedupSpans,
    "x_dedup_minhash_lsh" -> dedupMinhash,
    "x_dedup_containment" -> containment,
    "x_novelty" -> novelty,
    "x_winnow" -> winnow,
    "x_charlm_ppl" -> charlmPpl,
    "x_dedup_clusters" -> dedupClusters,
    "x_dedup_simhash" -> dedupSimhash,
    "x_jaccard_3gram" -> jaccard,
    "x_langid" -> langid,
    "x_quality" -> quality,
    "x_gopher_rules" -> gopherRules,
    "x_ccnet_buckets" -> ccnetBuckets,
    "x_tokens" -> tokens,
    "x_fingerprint" -> fingerprint,
  )

  val oracle: Map[String, String] = Map(
    "m_bleu" -> bleuSql,
    "m_chrf" -> chrfSql,
    "x_bpe_merges" -> bpeMergesSql,
    "x_bpe_apply" -> bpeApplySql,
    "x_minhash_est" -> minhashEstSql,
    "x_lang_confusion" -> langConfusionSql,
    "x_dedup_blocks" -> dedupBlocksSql,
    "a_cms_est" -> cmsEstSql,
    "a_hll_est" -> hllEstSql,
    "x_lsh_recall" -> lshRecallSql,
    "x_lsh_recall_sampled" -> lshRecallSampledSql,
    "x_kn_ppl" -> knPplSql,
    "x_tokens_regex" -> tokensRegexSql,
    "x_kn3_ppl" -> kn3PplSql,
    "x_dedup_exact" -> dedupExactSql,
    "x_dedup_spans" -> dedupSpansSql,
    "x_dedup_minhash_lsh" -> dedupMinhashSql,
    "x_dedup_containment" -> containmentSql,
    "x_novelty" -> noveltySql,
    "x_winnow" -> winnowSql,
    "x_charlm_ppl" -> charlmPplSql,
    "x_dedup_clusters" -> dedupClustersSql,
    "x_dedup_simhash" -> dedupSimhashSql,
    "x_jaccard_3gram" -> jaccardSql,
    "x_langid" -> langidSql,
    "x_quality" -> qualitySql,
    "x_gopher_rules" -> gopherRulesSql,
    "x_ccnet_buckets" -> ccnetBucketsSql,
    "x_tokens" -> tokensSql,
    "x_fingerprint" -> fingerprintSql,
  )
}
