package graft.queries

import graft.functions.CacheRegistry.Shareable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Canon.round
import graft.Tables
import graft.ann.Similarity
import graft.rng.Rand
import graft.text.TextOps

/** Round-2 engine extensions: repetition/quality filters, TF-IDF, PII
  * redaction, stratified sampling, grouped top-k, pivot, banded interval
  * join, and random-hyperplane LSH — each a deterministic pipeline with
  * lockstep DuckDB oracle SQL.
  *
  * Scale notes (100-TB posture):
  * - every pairwise stage is blocked (LSH bands / hour buckets) so no
  *   O(N²) pair space ever reaches a shuffle;
  * - per-group windows partition on low-cardinality keys only when the
  *   per-group row count is bounded (top-k, stratified-k); unbounded
  *   rankings stay out of the surface;
  * - double sums that feed equality gates are either integer-exact
  *   (cents scaling, ±1·x multiples) or fixed-order left folds.
  */
object QueriesExt {
  type Q = (SparkSession, String) => DataFrame

  // ---- Gopher-style repetition metrics (quality filtering) --------------
  // Per doc: word count, distinct-word ratio, most-common-word fraction,
  // duplicate-2-gram fraction — the standard "repetitious text" signals
  // for training-data filtering.
  // All tokens of a document live in ONE row, so none of these metrics
  // needs a token shuffle: distinct counts come from array_distinct and
  // the top-word multiplicity from a sort + single-pass run-length scan
  // (aggregate over the sorted token array, O(n log n) per row — NOT the
  // O(n·d) transform/filter nested loop, which measured 2× slower than
  // the explode form at sf0.1). The whole query is a shuffle-free
  // projection: zero exchanges, embarrassingly parallel — the plan shape
  // that wins at 100 TB (the earlier explode→groupBy form shuffled every
  // (doc, token) pair twice).
  private val repetition: Q = (s, d) => {
    // materialize the split ONCE as an attribute: every metric below
    // references the token array several times, and an inline split would
    // be re-evaluated per reference (and per shingle element) — that
    // re-evaluation, not the metric math, was 2/3 of the query's cost
    val w = col("w")
    val g = TextOps.shinglesOf(w, 2)
    // longest equal-run in the sorted token array = max word multiplicity
    val topw = aggregate(array_sort(w),
      struct(lit("\u0000").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    Tables.documents(s, d)
      // NULL text emits no row — matches the oracle's unnest form (which
      // produces nothing to group) independent of fixture data; without
      // this the in-row form would emit a row with NULL metrics
      .filter(col("text").isNotNull)
      // r15: zero-exchange projections inherit the SCAN's partitioning,
      // and the local fixture is one parquet file → one partition — the
      // whole per-doc sort/fold ran in a single task at any core count.
      // One deterministic hash exchange of the slim (doc_id, text) rows
      // buys full parallelism for the in-row HOF work that dominates
      // this query; partition count derives from the session.
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .select(col("doc_id"), size(w).cast("long").as("n_words"),
        round(size(array_distinct(w)).cast("double") / size(w).cast("double"), 6)
          .as("distinct_word_ratio"),
        round(topw.cast("double") / size(w).cast("double"), 6)
          .as("top_word_ratio"),
        round(when(size(g) === 0, lit(0.0)).otherwise(
          lit(1.0) - size(array_distinct(g)).cast("double") / size(g).cast("double")), 6)
          .as("dup_2gram_ratio"))
  }

  private val repetitionSql =
    s"""WITH wc AS (SELECT doc_id, w, count(*) AS c
                    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                          FROM documents) GROUP BY 1, 2),
        ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nw, count(*) AS ndw,
                      max(c) AS topw FROM wc GROUP BY 1),
        gc AS (SELECT doc_id, g, count(*) AS c
               FROM (SELECT doc_id, unnest(${TextOps.shinglesSql("text", 2)}) AS g
                     FROM documents) GROUP BY 1, 2),
        gs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS ng, count(*) AS ndg
               FROM gc GROUP BY 1)
        SELECT ws.doc_id, nw AS n_words,
               round(CAST(ndw AS DOUBLE) / nw, 6) AS distinct_word_ratio,
               round(CAST(topw AS DOUBLE) / nw, 6) AS top_word_ratio,
               round(coalesce(1.0 - CAST(ndg AS DOUBLE) / ng, 0.0), 6) AS dup_2gram_ratio
        FROM ws LEFT JOIN gs ON ws.doc_id = gs.doc_id"""

  // ---- TF-IDF top terms -------------------------------------------------
  // tf·ln(N/df) per (doc, term); document frequencies come from the WHOLE
  // corpus, then only probe docs are ranked. df is a (term → count)
  // aggregate — tiny next to the corpus — so at scale it broadcasts back
  // onto the tf table.
  private val NTFIDF = 50
  private val tfidf: Q = (s, d) => {
    val wc = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfq = wc.groupBy("w").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    wc.filter(col("doc_id") < NTFIDF)
      .join(broadcast(dfq), "w").crossJoin(broadcast(n))
      .select(col("doc_id"), col("w").as("term"), col("tf"), col("df"),
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df")), 6).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc))
        .cast("long"))
      .filter(col("rank") <= 3)
  }

  private val tfidfSql =
    s"""WITH wc AS (SELECT doc_id, w, count(*) AS tf
                    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                          FROM documents) GROUP BY 1, 2),
        dfq AS (SELECT w, count(*) AS df FROM wc GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, w AS term, tf, df,
               round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score,
               row_number() OVER (PARTITION BY doc_id ORDER BY
                 round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df), 6) DESC,
                 w ASC) AS rank
        FROM wc JOIN dfq USING (w), n
        WHERE doc_id < $NTFIDF
        QUALIFY rank <= 3"""

  // ---- PII-shape redaction (digit-run masking) --------------------------
  // The text-pipeline redaction primitive: collapse digit runs to a token,
  // report how many characters were masked. Pure per-row projection —
  // embarrassingly parallel, no shuffle at any scale.
  private val redact: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_custkey"),
      regexp_replace(col("c_name"), "[0-9]+", "<ID>").as("redacted"),
      (length(col("c_name")) -
        length(regexp_replace(col("c_name"), "[0-9]", ""))).cast("long")
        .as("n_digit_chars"),
      col("c_mktsegment"))

  private val redactSql =
    """SELECT c_custkey,
              regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS redacted,
              CAST(length(c_name) -
                   length(regexp_replace(c_name, '[0-9]', '', 'g')) AS BIGINT)
                AS n_digit_chars,
              c_mktsegment
       FROM customer"""

  // ---- deterministic stratified sample ----------------------------------
  // k rows per stratum, ranked by the counter RNG keyed on row identity —
  // the distributed analog of per-group reservoir sampling, reproducible
  // across engines and partitionings. Strata counts are low (group-key
  // cardinality), so the window partitions evenly; the rank key is
  // data-derived, never partition-order dependent. (A LONG rank key:
  // WindowGroupLimit's per-partition top-k sort compares integers, where
  // the earlier md5-string key paid a digest + string compare per row.)
  private val STRATK = 20
  private val stratifiedSample: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        Rand.mix(col("l_orderkey") * 8 + col("l_linenumber"), 77).as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("l_returnflag")
          .orderBy(col("h").asc, col("l_orderkey").asc, col("l_linenumber").asc))
        .cast("long"))
      .filter(col("rk") <= STRATK)
      .select("l_returnflag", "rk", "l_orderkey", "l_linenumber")

  private val stratifiedSampleSql =
    s"""SELECT l_returnflag, rk, l_orderkey, l_linenumber FROM (
          SELECT l_returnflag, l_orderkey, l_linenumber,
                 row_number() OVER (PARTITION BY l_returnflag ORDER BY
                   ${Rand.mixSql("l_orderkey * 8 + l_linenumber", 77)} ASC,
                   l_orderkey ASC, l_linenumber ASC) AS rk
          FROM lineitem)
        WHERE rk <= $STRATK"""

  // ---- grouped top-k ----------------------------------------------------
  // Highest-value orders per priority class. At scale this is the
  // rank-pushdown shape: AQE/WindowGroupLimit prunes each partition to k
  // before the final sort, so the shuffle carries ~k·|groups| rows.
  private val topkGroup: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc))
        .cast("long"))
      .filter(col("rnk") <= 3)
      .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")

  private val topkGroupSql =
    """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
         SELECT o_orderpriority, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
         FROM orders)
       WHERE rnk <= 3"""

  // ---- pivot (wide aggregation) -----------------------------------------
  // status × priority counts and revenue. Sums are cents-scaled to
  // integers first (invariant: multi-term double sums must be
  // order-independent → integer-exact; partial sums < 2^53), so Spark's
  // partial-agg ordering and DuckDB's single-node fold agree bit-for-bit.
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100, 0).cast("long")
  private val pivotStatus: Q = (s, d) => {
    val o = Tables.orders(s, d).withColumn("cents", cents(col("o_totalprice")))
    def n(st: String) = count(when(col("o_orderstatus") === st, 1)).as(s"n_$st")
    def amt(st: String) =
      (sum(when(col("o_orderstatus") === st, col("cents")).otherwise(0L)) / 100.0)
        .as(s"amt_$st")
    o.groupBy("o_orderpriority")
      .agg(n("O"), amt("O"), n("F"), amt("F"), n("P"), amt("P"))
  }

  private val pivotStatusSql = {
    def n(st: String) =
      s"count(CASE WHEN o_orderstatus = '$st' THEN 1 END) AS n_$st"
    def amt(st: String) =
      s"""(CAST(sum(CASE WHEN o_orderstatus = '$st'
            THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
            ELSE 0 END) AS BIGINT) / 100.0) AS amt_$st"""
    s"""SELECT o_orderpriority, ${n("O")}, ${amt("O")}, ${n("F")}, ${amt("F")},
               ${n("P")}, ${amt("P")}
        FROM orders GROUP BY 1"""
  }

  // ---- banded interval (range) join -------------------------------------
  // events within [t0, t0+10min) of each probe. The θ-join is quantized
  // into an equi-join: probes explode to the hour buckets their interval
  // touches, events carry their own bucket, and the range predicate only
  // runs inside matching buckets. At 100 TB the probe side broadcasts and
  // the event side never shuffles.
  private val rangeJoin: Q = (s, d) => {
    val ev = Tables.events(s, d).select("event_id", "ts", "value")
    val probes = ev.filter(col("event_id") % 997 === 0)
      .select(col("event_id").as("probe_id"), col("ts").as("t0"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("t1"))
      .withColumn("bkt", explode(sequence(
        expr("unix_micros(t0) div 3600000000"),
        expr("unix_micros(t1) div 3600000000"))))
    val eb = ev.withColumn("bkt", expr("unix_micros(ts) div 3600000000"))
    // avg_value is an INTEGER-EXACT mean (sum of 1e-6-quantized longs,
    // one divide): the group size grows with scale (~events per
    // 10-minute window), and a raw avg(double) flipped the 6th decimal
    // BETWEEN TWO DUCKDB RUNS at sf1 — the same order-dependent float
    // sum the r12 sf1 gate caught in the pixel-grid fixture
    eb.join(broadcast(probes), "bkt")
      .filter(col("ts") >= col("t0") && col("ts") < col("t1"))
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum(floor(col("value") * 1e6 + 0.5).cast("long")).cast("double") /
          (count(lit(1)).cast("double") * 1e6), 6).as("avg_value"),
        min("ts").as("first_ts"))
  }

  private val rangeJoinSql =
    """WITH probes AS (
         SELECT event_id AS probe_id, ts AS t0, ts + INTERVAL 10 MINUTE AS t1
         FROM events WHERE event_id % 997 = 0),
       pb AS (SELECT probe_id, t0, t1,
                     unnest(generate_series(epoch_us(t0) // 3600000000,
                                            epoch_us(t1) // 3600000000)) AS bkt
              FROM probes),
       eb AS (SELECT event_id, ts, value,
                     epoch_us(ts) // 3600000000 AS bkt FROM events)
       SELECT probe_id, count(*) AS n_events,
              round(CAST(CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
                    / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS avg_value,
              min(ts) AS first_ts
       FROM eb JOIN pb USING (bkt)
       WHERE eb.ts >= pb.t0 AND eb.ts < pb.t1
       GROUP BY 1"""

  // ---- random-hyperplane LSH (banded, cosine) ---------------------------
  // 32 fixed ±1 hyperplanes → 4 bands × 8 sign bits. Two vectors are
  // candidates when ANY band matches (P[bit match] = 1 − θ/π, so band
  // blocking trades recall for candidate count the standard way); exact
  // cosine then confirms. Complements the IVF route (x_dedup_embcos):
  // RP-LSH needs no trained centroids, so it is the cold-start ANN path.
  // The planes are compile-time constants from the deterministic RNG —
  // identical in both engines by construction.
  // Band width is the scale lever, and since r14 it is DERIVED FROM THE
  // DATA (the sf3 sweep caught the fixed 8-bit form going quadratic —
  // 25.8× wall for 3× data — because 256 buckets/band saturate):
  // bits = ceil(log2(ceil(n/8))) holds per-bucket occupancy at ~8, so
  // the per-band candidate space is ~n·4 — linear at any corpus size.
  // Band COUNT grows with width to hold recall: each extra bit
  // multiplies a band's collision probability for a sim≈0.9 pair by
  // p ≈ 1−acos(0.9)/π ≈ 0.856, so bands = ceil(4·(1/0.856)^(bits−8))
  // keeps the any-band hit rate ≈ the 8-bit/4-band design point
  // (bands are Scala-computed per bit-width and emitted into the SQL
  // as a shared VALUES LUT — no cross-engine float pow). Both engines
  // derive bits from the same corpus count, so the gate stays lockstep
  // at every sf. Plane ids live at 200 + 16·band + bit (disjoint from
  // the 0..31 legacy band family and QueriesAnn's 100..115).
  private val RPBMAX = 16   // bits cap = 65536 buckets/band
  private val RPBANDS_MAX = 16
  private val RPDIM = 64
  private val RPTHRESH = 0.35
  private val RPTARGET_OCC = 8
  private[graft] def rpBitsFor(n: Long): Int = {
    val q = (n + RPTARGET_OCC - 1) / RPTARGET_OCC
    if (q <= 1L) 1
    else math.min(64 - java.lang.Long.numberOfLeadingZeros(q - 1), RPBMAX)
  }
  // bands per bit-width, the recall-holding rule above (index = bits)
  private[graft] val rpBandsLut: IndexedSeq[Int] = (0 to RPBMAX).map { bits =>
    if (bits <= 8) 4
    else math.min(RPBANDS_MAX,
      math.ceil(4.0 * math.pow(1.0 / 0.856, (bits - 8).toDouble)).toInt)
  }
  // plane builders shared with QueriesAnn's bucketed-probe kNN variant
  // (g_knn_triangles_sampled uses plane ids 100+ — disjoint from the
  // 0..31 this file's bands consume)
  private[queries] def planeSign(p: Int, dd: Int): Int =
    if (Rand.mixLong(p * RPDIM + dd, 4242L) % 2 == 0) 1 else -1
  private[queries] def planeCol(p: Int) =
    array((0 until RPDIM).map(dd => lit(planeSign(p, dd).toDouble)): _*)
  private[queries] def planeSqlList(p: Int): String =
    (0 until RPDIM).map(dd => s"${planeSign(p, dd)}.0").mkString("[", ", ", "]")

  private val rplsh: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // bits/bands derived driver-side from the corpus count (the collect
    // is inside the builder, so a timing of the query includes it); only
    // live planes are ever computed — a sum of live planes equals a full-width
    // signature `& mask`, bit for bit, so it matches the oracle's
    // static-structure form at any width
    val bits = rpBitsFor(e.count())
    val nBands = rpBandsLut(bits)
    def bandVal(b: Int) = (0 until bits).map { j =>
      val proj = round(Similarity.dot(col("v"), planeCol(200 + RPBMAX * b + j)), 6)
      when(proj > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val sig = e.select(Seq(col("vec_id"), col("v")) ++
      (0 until nBands).map(b => bandVal(b).as(s"b$b")): _*)
    // persist: both sides of the band self-join read the banded
    // signatures — one pass of the random-plane projections instead
    // of two. (nBands small rows per vector.)
    val banded = sig.select(col("vec_id"),
      posexplode(array((0 until nBands).map(b => col(s"b$b")): _*))
        .as(Seq("band_id", "bval")))
      .persistShared()
    val r = banded.toDF("r_vec_id", "r_band_id", "r_bval")
    val pairs = banded.join(r, col("band_id") === col("r_band_id") &&
        col("bval") === col("r_bval") && col("vec_id") < col("r_vec_id"))
      .select(col("vec_id").as("a_id"), col("r_vec_id").as("b_id"))
      .distinct()
    pairs
      .join(e.toDF("a_id", "av"), "a_id")
      .join(e.toDF("b_id", "bv"), "b_id")
      .select(col("a_id"), col("b_id"),
        round(Similarity.cosine(col("av"), col("bv")), 6).as("sim"))
      .filter(col("sim") >= RPTHRESH)
  }

  private val rplshSql = {
    // static structure, data-derived values: all RPBANDS_MAX full-width
    // band signatures are computed and masked down to the derived bits,
    // dead bands filtered by the derived band count — the same
    // count-derivation the Spark side runs, so verdicts stay lockstep
    def bandValSql(b: Int) = (0 until RPBMAX).map { j =>
      val proj = s"round(list_dot_product(v, ${planeSqlList(200 + RPBMAX * b + j)}), 6)"
      s"(CASE WHEN $proj > 0.0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")
    val bandCase = (0 until RPBANDS_MAX).map(b =>
      if (b < RPBANDS_MAX - 1) s"WHEN $b THEN b$b" else s"ELSE b$b")
      .mkString("CASE band_id ", " ", " END")
    // Scala-computed (bits → bands) LUT as shared literals
    val lutValues = (0 to RPBMAX).map(b => s"($b, ${rpBandsLut(b)})").mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        params AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
        bitsq AS (SELECT CASE WHEN q <= 1 THEN 1
                              ELSE least(length(bin(q - 1)), $RPBMAX)
                         END AS bits
                  FROM (SELECT ((n + ${RPTARGET_OCC - 1}) // $RPTARGET_OCC) AS q
                        FROM params)),
        bandsq AS (SELECT bits, lut.bands,
                          (CAST(1 AS BIGINT) << bits) - 1 AS mask
                   FROM bitsq JOIN (VALUES $lutValues) lut(b, bands)
                     ON lut.b = bitsq.bits),
        sig AS (SELECT vec_id,
                  ${(0 until RPBANDS_MAX).map(b => s"(${bandValSql(b)}) AS b$b").mkString(", ")}
                FROM e),
        banded AS (SELECT vec_id, band_id, ($bandCase) & mask AS bval
                   FROM sig, bandsq,
                        (SELECT unnest(range($RPBANDS_MAX)) AS band_id)
                   WHERE band_id < bands),
        pairs AS (SELECT DISTINCT l.vec_id AS a_id, r.vec_id AS b_id
                  FROM banded l JOIN banded r
                    ON l.band_id = r.band_id AND l.bval = r.bval
                   AND l.vec_id < r.vec_id)
        SELECT a_id, b_id,
               round(${Similarity.cosineSql("a.v", "b.v")}, 6) AS sim
        FROM pairs JOIN e a ON a.vec_id = a_id JOIN e b ON b.vec_id = b_id
        WHERE round(${Similarity.cosineSql("a.v", "b.v")}, 6) >= $RPTHRESH"""
  }

  // ---- URL canonicalization (web-corpus dedup prep) ---------------------
  // Before any URL-level dedup, a crawl pipeline canonicalizes: lowercase
  // scheme/host, drop the default port, strip the fragment, remove
  // tracking parameters (utm_*), collapse duplicate path slashes. Raw
  // URLs are synthesized deterministically from (source, lang, doc_id)
  // with case/port/tracking/fragment noise keyed off doc_id residues;
  // the pipeline canonicalizes with regexp_extract/replace chains (both
  // engines' regex dialects agree on these lookbehind-free patterns;
  // the ?/& normalization turns '?' into '&', strips '&utm_…' params
  // globally, then '&(.*)$' restores the first separator — greedy .*
  // makes that a single match in both engines). The census groups by
  // canonical URL: residue collisions give real multi-member clusters,
  // and the oracle recomputes the canonical form CLOSED-FORM (not by
  // running the same regexes), so the gate proves the rule chain
  // implements the spec, not merely that two regex engines agree.
  private val urlCanon: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val raw = doc.select(col("doc_id"), col("source"), col("lang"),
      concat(
        when(col("doc_id") % 2 === 0, "HTTPS://WWW.").otherwise(lit("https://www.")),
        col("source"), lit(".Example.COM"),
        when(col("doc_id") % 3 === 0, ":443").otherwise(lit("")),
        lit("/"), col("lang"),
        when(col("doc_id") % 4 === 0, "//").otherwise(lit("/")),
        lit("page"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_campaign=c"), (col("doc_id") % 3).cast("string"),
            lit("&p="), (col("doc_id") % 7).cast("string")))
          .otherwise(concat(lit("?p="), (col("doc_id") % 7).cast("string"))),
        when(col("doc_id") % 5 === 0,
          concat(lit("#s"), (col("doc_id") % 4).cast("string")))
          .otherwise(lit(""))).as("url"))
    val rest0 = regexp_extract(col("url"), "^[a-zA-Z]+://[^/]+(/.*)?$", 1)
    val noFrag = regexp_replace(rest0, "#.*$", "")
    val noSlash = regexp_replace(noFrag, "//+", "/")
    val qNorm = regexp_replace(noSlash, "\\?", "&")
    val noTrack = regexp_replace(qNorm, "&utm_[a-z]+=[^&]*", "")
    val restored = regexp_replace(noTrack, "&(.*)$", "?$1")
    val noTrail = regexp_replace(restored, "[?&]$", "")
    val canon = raw.select(col("doc_id"), col("url"),
      concat(
        lower(regexp_extract(col("url"), "^([a-zA-Z]+)://", 1)), lit("://"),
        lower(regexp_extract(col("url"), "^[a-zA-Z]+://([^/:?#]+)", 1)),
        noTrail).as("canonical_url"))
    canon.groupBy("canonical_url")
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("url")).as("n_raw_distinct"),
        min("doc_id").as("rep_doc_id"),
        sum("doc_id").as("doc_id_sum"))
  }

  private val urlCanonSql =
    """SELECT 'https://www.' || source || '.example.com/' || lang ||
              '/page' || CAST(doc_id % 50 AS VARCHAR) ||
              '?p=' || CAST(doc_id % 7 AS VARCHAR) AS canonical_url,
              count(*) AS n_raw,
              count(DISTINCT CASE WHEN doc_id % 2 = 0 THEN 'U' ELSE 'l' END ||
                             CASE WHEN doc_id % 3 = 0 THEN 'P' ELSE '-' END ||
                             CASE WHEN doc_id % 4 = 0 THEN 'S' ELSE '-' END ||
                             CASE WHEN doc_id % 2 = 0
                                  THEN 'c' || CAST(doc_id % 3 AS VARCHAR)
                                  ELSE '-' END ||
                             CASE WHEN doc_id % 5 = 0
                                  THEN 's' || CAST(doc_id % 4 AS VARCHAR)
                                  ELSE '-' END) AS n_raw_distinct,
              min(doc_id) AS rep_doc_id,
              CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
       FROM documents
       GROUP BY 1"""

  val queries: Map[String, Q] = Map(
    "x_url_canon" -> urlCanon,
    "x_repetition" -> repetition,
    "x_tfidf" -> tfidf,
    "x_redact" -> redact,
    "v_stratified_sample" -> stratifiedSample,
    "w_topk_group" -> topkGroup,
    "a_pivot_status" -> pivotStatus,
    "o_range_join" -> rangeJoin,
    "n_rplsh_candidates" -> rplsh,
  )

  val oracle: Map[String, String] = Map(
    "x_url_canon" -> urlCanonSql,
    "x_repetition" -> repetitionSql,
    "x_tfidf" -> tfidfSql,
    "x_redact" -> redactSql,
    "v_stratified_sample" -> stratifiedSampleSql,
    "w_topk_group" -> topkGroupSql,
    "a_pivot_status" -> pivotStatusSql,
    "o_range_join" -> rangeJoinSql,
    "n_rplsh_candidates" -> rplshSql,
  )
}
