package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Ann, TextOps}
import graft.model.Tables

/** Corpus- and governance-audit operators rounding out the training-data
  * surface (ref: the reference's reporting layer stops at revenue KPIs —
  * `pipeline/athena_queries.sql`; these are the audits a 100 TB corpus
  * needs before any of that data reaches a trainer):
  *
  *   - q209 cluster-balanced coverage sampling (diversity-preserving
  *     down-sampling over embedding cells — the sqrt-mass acceptance rule
  *     applied per LSH cell instead of per language/source),
  *   - q210 curriculum phase assignment (exact global difficulty rank via
  *     the q177 two-phase distributed prefix trick — no corpus-sized
  *     single-task window),
  *   - q211 k-anonymity audit over the customer dimension (governance,
  *     next to q74's PII scrub and q80's erasure),
  *   - q212 Zipf/heaps vocabulary audit (rank-frequency slope of the
  *     corpus's own token distribution),
  *   - q213 overlapping-window RAG chunking audit (the retrieval-ingestion
  *     chunker: fixed window, half-window stride, cross-corpus duplicate
  *     chunk measurement),
  *   - q214 winnowing fingerprints (the MOSS scheme: per-window minimum of
  *     rolling k-gram hashes — a GUARANTEED-recall sampled fingerprint set,
  *     unlike q35's probabilistic MinHash),
  *   - q215 bottom-k Jaccard sketch error audit (the q124/q125 verify-the-
  *     approximation-in-plan guard applied to set-similarity sketching,
  *     over a bounded audit slice).
  *
  * Shared idioms: whitespace tokens = DuckDB `string_split`, md5-derived
  * integers for any pseudo-randomness (identical in both engines), exact
  * BIGINT sums before any IEEE divide, every query ends in a total ORDER BY.
  */
object AuditOps {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def fanned(s: SparkSession, d: String) =
    graft.etl.FanOut.fanOut(docs(s, d), col("doc_id"))

  /** Embedding dimensionality of the test corpus (shared with
    * [[Similarity]]). */
  private val Dim = 64

  /** embeddings in the (id, vec) shape [[Ann]] speaks, fanned out of the
    * single input split like [[Similarity]]'s corpus. */
  private def corpusEmb(s: SparkSession, d: String): DataFrame =
    graft.etl.FanOut.fanOut(
      Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      col("id"))

  /** q209: per-cell target multiplier — keep ≈ CoverageK·sqrt(cell size)
    * vectors per cell, the temperature-style rule that flattens head
    * clusters while keeping tail clusters intact. */
  val CoverageK = 4

  /** q210: surprisal-micro width of one rank bucket (0.2 nats). The bucket
    * key is monotone in the sort key, so bucket-offset + within-bucket
    * row_number equals the global rank exactly. */
  val CurrBucket = 200000L

  /** q213: RAG chunk window and stride (tokens). Stride < window ⇒ every
    * chunk start is < doc length, so no empty chunks exist. */
  val ChunkW = 64
  val ChunkS = 32

  /** q214: k-gram size and winnowing window (in k-grams). Guarantee: any
    * shared token run of ≥ WinnowKg + WinnowW − 1 = 11 tokens produces at
    * least one shared fingerprint. */
  val WinnowKg = 4
  val WinnowW = 8

  /** q215: bottom-k sketch size and the exact-Jaccard floor for audited
    * pairs. k = 32 < the ~60-100 shingles of a typical corpus document,
    * so most audited pairs exercise the genuine estimation regime
    * (truncated union), not the |union| ≤ k exact regime. */
  val BkK = 32
  val BkThreshold = 0.2

  private def md5Long(c: Column, hexDigits: Int): Column =
    conv(substring(md5(c.cast("string")), 1, hexDigits), 16, 10).cast("long")

  /** q210's distributed global rank by (`sm`, `doc_id`): per-bucket counts
    * on the CurrBucket-coarsened key, exact bucket offsets via a window
    * over the BOUNDED bucket relation, within-bucket row_number
    * (partitioned, parallel). Monotone bucket key ⇒ offset + row_number
    * equals the single-window global rank bit-for-bit — proven against
    * the one-task formulation in AuditOpsSpec. */
  private[queries] def twoPhaseRank(sc: DataFrame): DataFrame = {
    val bucketed = sc.withColumn("b", expr(s"sm div $CurrBucket"))
    val offs = bucketed.groupBy("b").agg(count(lit(1)).cast("long").as("nb"))
      .withColumn("off", coalesce(sum("nb").over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("b", "off") // bucket relation: ≤ ~200 rows, broadcast back
    bucketed.join(broadcast(offs), "b")
      .withColumn("rn", row_number().over(
        Window.partitionBy("b").orderBy(col("sm"), col("doc_id"))).cast("long"))
      .withColumn("rank", col("off") + col("rn"))
      .drop("b", "rn")
  }

  /** q213's chunker over (doc_id, source, toks, n): one row per
    * overlapping window-ChunkW / stride-ChunkS chunk, with its token
    * count and md5 fingerprint. Map-side explode, no shuffle. */
  private[queries] def ragChunks(d0: DataFrame): DataFrame =
    d0.withColumn("i", explode(expr(
        s"sequence(0L, (greatest(n - $ChunkW, 0L) + ${ChunkS - 1}) div $ChunkS)")))
      .select(col("doc_id"), col("source"),
        expr(s"slice(toks, CAST(i * $ChunkS + 1 AS INT), $ChunkW)").as("ctoks"))
      .select(col("doc_id"), col("source"),
        size(col("ctoks")).cast("long").as("ct"),
        md5(concat_ws(" ", col("ctoks"))).as("fp"))

  /** q214's winnowed windows over (doc_id, source, toks, n): one row per
    * full window position p ≥ WinnowW with the window-minimum k-gram hash
    * `wm`; `SELECT DISTINCT doc_id, wm` of this relation is the
    * document's fingerprint set. */
  private[queries] def winnowWindows(d0: DataFrame): DataFrame =
    d0.filter(col("n") >= WinnowKg)
      .withColumn("p", explode(expr(s"sequence(1L, n - ${WinnowKg - 1})")))
      .select(col("doc_id"), col("source"), col("p"),
        md5Long(concat_ws(" ",
          expr(s"slice(toks, CAST(p AS INT), $WinnowKg)")), 12).as("h"))
      .withColumn("wm", min("h").over(
        Window.partitionBy("doc_id").orderBy("p").rowsBetween(-(WinnowW - 1), 0)))
      .filter(col("p") >= WinnowW)

  /** The q193-family SQL expression for the 16-bit hyperplane signature of
    * `embeddings.embedding`. */
  private def bucketBitsSql: String =
    (0 until Ann.LshBits).map { j =>
      s"(CASE WHEN ${Ann.dotSql("embedding", Ann.planeSql(Dim, j))} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  def defs: Seq[Q] = Seq(

    // ── Cluster-balanced coverage sampling — the diversity-preserving
    //    down-sampler that runs AFTER dedup: assign every vector to its
    //    16-bit hyperplane-LSH cell (map-side only, no shuffle), then keep
    //    each vector with per-cell probability targeting CoverageK·sqrt(n)
    //    survivors — head cells are flattened (a 10 000-vector cluster
    //    keeps ~400), tail cells keep everything (rate clamps at 100%), so
    //    the sample covers the embedding space instead of re-weighting
    //    toward its modes. Acceptance is the q171 md5 scheme — a
    //    deterministic per-id uniform, identical in both engines, so the
    //    EXACT kept set (not just its size) is oracle-checked. Scale: one
    //    hash-agg on the ≤2^16-bounded cell key; the rate table is
    //    cell-count-sized and broadcast; no corpus-sized shuffle at all.
    Q("q209_coverage_sample",
      s"""WITH sig AS (SELECT vec_id, ($bucketBitsSql) AS bucket FROM embeddings),
         |cs AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM sig GROUP BY 1),
         |r AS (SELECT bucket, n,
         |             least(CAST(1000000 AS BIGINT),
         |                   (1000000 * CAST(round($CoverageK * sqrt(CAST(n AS DOUBLE))) AS BIGINT)) // n) AS rate_ppm
         |      FROM cs),
         |a AS (SELECT s.vec_id, s.bucket, r.n, r.rate_ppm,
         |             ('0x' || substr(md5(CAST(s.vec_id AS VARCHAR)), 1, 8))::BIGINT AS u
         |      FROM sig s JOIN r ON r.bucket = s.bucket)
         |SELECT CASE WHEN n = 1 THEN 'a_1' WHEN n <= 3 THEN 'b_2-3'
         |            WHEN n <= 7 THEN 'c_4-7' WHEN n <= 15 THEN 'd_8-15'
         |            ELSE 'e_16+' END AS size_class,
         |       CAST(count(DISTINCT bucket) AS BIGINT) AS n_cells,
         |       CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(count(*) FILTER (WHERE u * 1000000 < rate_ppm * 4294967296) AS BIGINT) AS n_kept,
         |       (1000000 * CAST(count(*) FILTER (WHERE u * 1000000 < rate_ppm * 4294967296) AS BIGINT))
         |         // count(*) AS kept_ppm
         |FROM a GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val sig = Ann.hyperplaneBuckets(corpusEmb(s, d), Dim)
      val cs = sig.groupBy("bucket").agg(count(lit(1)).cast("long").as("n"))
      val rates = cs.withColumn("rate_ppm", least(lit(1000000L),
        expr(s"(1000000 * CAST(round($CoverageK * sqrt(CAST(n AS DOUBLE))) AS BIGINT)) div n")))
      val kept = col("u") * lit(1000000L) < col("rate_ppm") * lit(4294967296L)
      sig.join(broadcast(rates), "bucket")
        .withColumn("u", md5Long(col("id"), 8))
        .groupBy(when(col("n") === 1, "a_1").when(col("n") <= 3, "b_2-3")
          .when(col("n") <= 7, "c_4-7").when(col("n") <= 15, "d_8-15")
          .otherwise("e_16+").as("size_class"))
        .agg(countDistinct("bucket").as("n_cells"),
          count(lit(1)).as("n_vecs"),
          count(when(kept, 1)).as("n_kept"),
          expr("(1000000 * count(CASE WHEN u * 1000000 < rate_ppm * 4294967296 THEN 1 END)) div count(*)")
            .as("kept_ppm"))
        .orderBy("size_class")
    },

    // ── Curriculum phase assignment — order the corpus by model-based
    //    difficulty (the q173 bigram-LM surprisal) and cut it into 4
    //    training phases of equal document count, easiest first. The
    //    global rank is the q177 two-phase distributed prefix: per-bucket
    //    counts on the CurrBucket-coarsened surprisal key (bounded
    //    relation), exact bucket offsets via a window over THAT relation,
    //    then a within-bucket row_number partitioned by bucket (parallel).
    //    Because the bucket key is monotone in (surprisal, doc_id), offset
    //    + within-bucket rank IS the global rank — replayed by the
    //    oracle's single-window formulation, so the per-phase order
    //    fingerprint (Σ rank·doc_id products in modular arithmetic)
    //    verifies the exact assignment, not just phase sizes.
    Q("q210_curriculum_phases",
      s"""WITH ${CurationOps.surprisalCtes},
         |sc AS (SELECT doc_id, n_bigrams,
         |              CAST(round(CAST(ssum AS DOUBLE) / n_bigrams) AS BIGINT) AS sm
         |       FROM d),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM sc),
         |rk AS (SELECT doc_id, n_bigrams, sm,
         |              CAST(row_number() OVER (ORDER BY sm, doc_id) AS BIGINT) AS rank
         |       FROM sc)
         |SELECT ((rank - 1) * 4) // n_total AS phase,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       min(sm) / 1e6 AS min_surprisal,
         |       max(sm) / 1e6 AS max_surprisal,
         |       CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams,
         |       CAST(sum((rank % 1000003) * (doc_id % 1000003)) AS BIGINT) AS order_fp
         |FROM rk CROSS JOIN tot GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val sc = CurationOps.bigramSurprisalCkpt(docs(s, d))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("ssum").cast("double") / col("n_bigrams")).cast("long").as("sm"))
      val tot = sc.agg(count(lit(1)).cast("long").as("n_total"))
      twoPhaseRank(sc)
        .crossJoin(broadcast(tot))
        .groupBy(expr("((rank - 1) * 4) div n_total").as("phase"))
        .agg(count(lit(1)).as("n_docs"),
          (min("sm") / 1e6).as("min_surprisal"),
          (max("sm") / 1e6).as("max_surprisal"),
          sum("n_bigrams").cast("long").as("total_bigrams"),
          sum((col("rank") % 1000003L) * (col("doc_id") % 1000003L)).cast("long").as("order_fp"))
        .orderBy("phase")
    },

    // ── k-anonymity audit — the governance gate before any customer
    //    attribute joins a training corpus: group by the quasi-identifier
    //    tuple (nation, market segment, account-balance band) and
    //    histogram the group sizes. Records in groups of size < 5 are
    //    re-identifiable by QI alone — the k=1 row count is the number of
    //    customers a linkage attack singles out exactly. One hash-agg on
    //    the QI tuple, then a 4-row class rollup: nothing here scales
    //    with anything but the QI cardinality.
    Q("q211_k_anonymity",
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |                  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |                  CAST(count(*) AS BIGINT) AS k
        |           FROM customer GROUP BY 1, 2, 3)
        |SELECT CASE WHEN k = 1 THEN 'k=1' WHEN k < 5 THEN 'k=2-4'
        |            WHEN k < 10 THEN 'k=5-9' ELSE 'k>=10' END AS k_class,
        |       CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(sum(k) AS BIGINT) AS n_records,
        |       CAST(min(k) AS BIGINT) AS min_k,
        |       CAST(max(k) AS BIGINT) AS max_k
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
        .agg(count(lit(1)).cast("long").as("k"))
        .groupBy(when(col("k") === 1, "k=1").when(col("k") < 5, "k=2-4")
          .when(col("k") < 10, "k=5-9").otherwise("k>=10").as("k_class"))
        .agg(count(lit(1)).as("n_groups"), sum("k").cast("long").as("n_records"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("k_class")
    },

    // ── Zipf/heaps vocabulary audit — does the corpus's token
    //    distribution look like natural language? Fit the rank-frequency
    //    slope over the top-1000 terms (log-log least squares; natural
    //    text sits near −1) and measure the hapax share (vocabulary mass
    //    seen exactly once — a machine-generated corpus collapses it).
    //    Determinism: ln(rank)/ln(freq) are milli-rounded to BIGINTs
    //    per term, all regression sums are exact-integer (magnitudes
    //    ≤ 1e14 — overflow-safe at any corpus size since n is capped at
    //    1000), one IEEE divide at the end. Scale: term counts are one
    //    hash-agg; the top-1000 cut is TakeOrderedAndProject (bounded);
    //    the rank window runs over 1000 rows.
    Q("q212_zipf_audit",
      s"""WITH t AS (${LlmPipeline.toksCte}),
         |terms AS (SELECT unnest(toks) AS tok FROM t),
         |tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM terms GROUP BY 1),
         |vs AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size,
         |              CAST(sum(f) AS BIGINT) AS total_tokens,
         |              CAST(count(*) FILTER (WHERE f = 1) AS BIGINT) AS hapax FROM tc),
         |top AS (SELECT tok, f FROM tc ORDER BY f DESC, tok LIMIT 1000),
         |rk AS (SELECT f, CAST(row_number() OVER (ORDER BY f DESC, tok) AS BIGINT) AS rn FROM top),
         |xy AS (SELECT CAST(round(1e3 * ln(CAST(rn AS DOUBLE))) AS BIGINT) AS x,
         |              CAST(round(1e3 * ln(CAST(f AS DOUBLE))) AS BIGINT) AS y FROM rk),
         |reg AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |               CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
         |               CAST(sum(x * x) AS BIGINT) AS sxx FROM xy)
         |SELECT vocab_size, total_tokens, hapax,
         |       (1000000 * hapax) // vocab_size AS hapax_ppm,
         |       round(1e6 * (CAST(n * sxy - sx * sy AS DOUBLE)
         |                    / CAST(n * sxx - sx * sx AS DOUBLE))) / 1e6 AS zipf_slope
         |FROM vs CROSS JOIN reg ORDER BY vocab_size""".stripMargin) { (s, d) =>
      val tc = fanned(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).cast("long").as("f"))
      val vs = tc.agg(count(lit(1)).cast("long").as("vocab_size"),
        sum("f").cast("long").as("total_tokens"),
        count(when(col("f") === 1, 1)).cast("long").as("hapax"))
      val reg = tc.orderBy(col("f").desc, col("tok")).limit(1000)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("f").desc, col("tok"))).cast("long"))
        .select(round(lit(1e3) * log(col("rn").cast("double"))).cast("long").as("x"),
          round(lit(1e3) * log(col("f").cast("double"))).cast("long").as("y"))
        .agg(count(lit(1)).cast("long").as("n"), sum("x").cast("long").as("sx"),
          sum("y").cast("long").as("sy"),
          sum(col("x") * col("y")).cast("long").as("sxy"),
          sum(col("x") * col("x")).cast("long").as("sxx"))
      vs.crossJoin(broadcast(reg))
        .select(col("vocab_size"), col("total_tokens"), col("hapax"),
          expr("(1000000 * hapax) div vocab_size").as("hapax_ppm"),
          (round(lit(1e6) * ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))) / 1e6)
            .as("zipf_slope"))
        .orderBy("vocab_size")
    },

    // ── Overlapping-window RAG chunking audit — the retrieval-ingestion
    //    chunker (window ChunkW, stride ChunkS) run corpus-wide, measuring
    //    what actually lands in the vector store: chunk counts, the
    //    WITHIN-SOURCE duplicate-chunk mass (identical md5 chunks embedded
    //    more than once for the same source — pure index waste; the
    //    distinct-fp count is per source group, so a chunk shared across
    //    two sources is not counted as a duplicate here — a corpus-wide
    //    rollup of the same fp relation is the cross-source variant),
    //    padding-relevant short-chunk
    //    share, and mean chunk fill. Chunk starts are i·stride for
    //    i < ⌈max(0, n−W)/S⌉+1; stride < window guarantees the last start
    //    is inside the document, so no empty chunk exists to special-case.
    //    Scale: chunking is a map-side explode (≈ n/S rows per doc); the
    //    only shuffle is the per-source rollup with its distinct-fp
    //    count — one high-cardinality hash-agg, the q181 shape.
    Q("q213_rag_chunking",
      s"""WITH t AS (${LlmPipeline.toksCte}),
         |d0 AS (SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS n
         |       FROM t WHERE len(toks) > 0),
         |c AS (SELECT doc_id, source, n, toks, CAST(u.i AS BIGINT) AS i
         |      FROM d0, unnest(range(0, 1 + ((greatest(n - $ChunkW, 0) + ${ChunkS - 1}) // $ChunkS))) AS u(i)),
         |ch AS (SELECT doc_id, source,
         |              toks[CAST(i * $ChunkS + 1 AS BIGINT) : CAST(i * $ChunkS + $ChunkW AS BIGINT)] AS ctoks
         |       FROM c),
         |f AS (SELECT doc_id, source, CAST(len(ctoks) AS BIGINT) AS ct,
         |             md5(array_to_string(ctoks, ' ')) AS fp FROM ch)
         |SELECT source,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(count(DISTINCT fp) AS BIGINT) AS distinct_chunks,
         |       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS dup_chunks,
         |       (1000000 * CAST(count(*) FILTER (WHERE ct = $ChunkW) AS BIGINT)) // count(*) AS full_ppm,
         |       round(1e6 * CAST(sum(ct) AS DOUBLE) / count(*)) / 1e6 AS avg_chunk_tokens
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val d0 = fanned(s, d)
        .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .filter(col("n") > 0)
      ragChunks(d0).groupBy("source")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_chunks"),
          countDistinct("fp").as("distinct_chunks"),
          (count(lit(1)) - countDistinct("fp")).as("dup_chunks"),
          expr(s"(1000000 * count(CASE WHEN ct = $ChunkW THEN 1 END)) div count(*)").as("full_ppm"),
          (round(lit(1e6) * sum("ct").cast("double") / count(lit(1))) / 1e6).as("avg_chunk_tokens"))
        .orderBy("source")
    },

    // ── Winnowing fingerprints — the MOSS sampling scheme: hash every
    //    WinnowKg-token k-gram, take the MINIMUM hash in each sliding
    //    window of WinnowW consecutive k-grams, and keep the distinct
    //    minima as the document's fingerprint set. Unlike MinHash (q35,
    //    probabilistic recall) this carries a hard guarantee: any shared
    //    token run of ≥ Kg+W−1 = 11 tokens shares at least one
    //    fingerprint, at ~2/(W+1) of the storage of the full q185 window
    //    relation. Audited per source: fingerprint density and the
    //    cross-document shared-fingerprint mass (values selected in ≥2
    //    docs — the overlap winnowing exists to find). Scale: k-gram
    //    hashing is map-side; the window-min is a per-doc partitioned
    //    window (parallel across docs); the value rollups are hash-aggs
    //    on the 48-bit fingerprint key.
    Q("q214_winnowing_fingerprints",
      s"""WITH t AS (${LlmPipeline.toksCte}),
         |d0 AS (SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS n
         |       FROM t WHERE len(toks) >= $WinnowKg),
         |k AS (SELECT doc_id, source, CAST(u.p AS BIGINT) AS p,
         |             ('0x' || substr(md5(array_to_string(
         |                toks[CAST(u.p AS BIGINT) : CAST(u.p + ${WinnowKg - 1} AS BIGINT)], ' ')), 1, 12))::BIGINT AS h
         |      FROM d0, unnest(range(1, n - ${WinnowKg - 2})) AS u(p)),
         |w AS (SELECT doc_id, source, p,
         |             min(h) OVER (PARTITION BY doc_id ORDER BY p
         |                          ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS wm
         |      FROM k),
         |wf AS (SELECT * FROM w WHERE p >= $WinnowW),
         |dd AS (SELECT doc_id, source, CAST(count(*) AS BIGINT) AS nw,
         |              CAST(count(DISTINCT wm) AS BIGINT) AS nfp
         |       FROM wf GROUP BY 1, 2),
         |vals AS (SELECT source, wm, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
         |         FROM wf GROUP BY 1, 2),
         |vs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_fp_values,
         |              CAST(count(*) FILTER (WHERE nd >= 2) AS BIGINT) AS shared_fp_values
         |       FROM vals GROUP BY 1),
         |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(sum(nw) AS BIGINT) AS n_windows,
         |              CAST(sum(nfp) AS BIGINT) AS n_fps
         |       FROM dd GROUP BY 1)
         |SELECT ag.source, n_docs, n_windows, n_fps,
         |       (1000000 * n_fps) // n_windows AS density_ppm,
         |       n_fp_values, shared_fp_values
         |FROM ag JOIN vs ON vs.source = ag.source ORDER BY 1""".stripMargin) { (s, d) =>
      val d0 = fanned(s, d)
        .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
      val wf = winnowWindows(d0)
      // One pass per grouping — no per-doc⋈per-doc join to flip at scale:
      // window count and distinct-fingerprint count share a hash-agg.
      val ag = wf.groupBy("doc_id", "source")
        .agg(count(lit(1)).as("nw"), countDistinct("wm").as("nfp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nw").cast("long").as("n_windows"),
          sum("nfp").cast("long").as("n_fps"))
      val vs = wf.groupBy("source", "wm").agg(countDistinct("doc_id").as("nd"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_fp_values"),
          count(when(col("nd") >= 2, 1)).as("shared_fp_values"))
      // vs/ag are source-count-sized BY CONSTRUCTION (the estimator sees
      // only the corpus scan they derive from — the q199 Finding-2 class),
      // so pin the broadcast.
      ag.join(broadcast(vs), "source")
        .select(col("source"), col("n_docs"), col("n_windows"), col("n_fps"),
          expr("(1000000 * n_fps) div n_windows").as("density_ppm"),
          col("n_fp_values"), col("shared_fp_values"))
        .orderBy("source")
    },

    // ── Bottom-k Jaccard sketch error audit — the q124/q125/q154 "verify
    //    the approximation against the exact answer IN-PLAN" guard applied
    //    to set-similarity sketching: for every exact-Jaccard ≥ BkThreshold
    //    pair (q87's bounded shingle-join shape), compute the one-
    //    permutation bottom-k estimate — Ĵ = |B_k(A∪B) ∩ B_k(A) ∩ B_k(B)|
    //    / |B_k(A∪B)| over the k smallest md5 shingle hashes — and report
    //    the exact-vs-estimate error per pair. The q35 MinHash pipeline's
    //    xxhash64 signatures are not oracle-replayable; the md5-hash
    //    bottom-k sketch is, so THIS estimator's whole arithmetic (hash,
    //    truncation, merge B_k(A∪B) = B_k(B_k(A) ∪ B_k(B)), division) is
    //    hash-checked, not just its inputs. Scale: per-doc sketches are
    //    k-bounded arrays built map-side; pairs are bounded by the
    //    shared-shingle join exactly like q87 — never all-pairs.
    Q("q215_bottomk_jaccard_audit", {
      val bkExpr = "list_sort(list_distinct(list_transform(s, " +
        "g -> ('0x' || substr(md5(g), 1, 8))::BIGINT)))" + s"[1:$BkK]"
      s"""WITH t AS (${LlmPipeline.toksCte} WHERE doc_id < 1000),
         |sh AS (${LlmPipeline.shinglesCte}),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             round(1e6 * len(list_intersect(a.s, b.s))
         |                   / len(list_distinct(a.s || b.s))) / 1e6 AS jaccard
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         |bk AS (SELECT doc_id, $bkExpr AS bka FROM sh),
         |j AS (SELECT p.doc_a, p.doc_b, p.jaccard, x.bka AS ba, y.bka AS bb
         |      FROM p JOIN bk x ON x.doc_id = p.doc_a
         |             JOIN bk y ON y.doc_id = p.doc_b
         |      WHERE p.jaccard >= $BkThreshold),
         |e AS (SELECT doc_a, doc_b, jaccard, ba, bb,
         |             list_sort(list_distinct(ba || bb))[1:$BkK] AS ub FROM j),
         |f AS (SELECT doc_a, doc_b, jaccard,
         |             (1000000 * CAST(len(list_intersect(list_intersect(ub, ba), bb)) AS BIGINT))
         |               // CAST(len(ub) AS BIGINT) AS est_ppm
         |      FROM e)
         |SELECT doc_a, doc_b, jaccard, est_ppm,
         |       abs(CAST(round(1e6 * jaccard) AS BIGINT) - est_ppm) AS err_ppm
         |FROM f ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, d) =>
      // checkpoint the ≤1000-doc shingled slice: it feeds FIVE subtrees
      // below (sizes, both sides of the pair self-join, the bottom-k
      // relation twice), and each broadcast build re-ran the tokenize +
      // shingle map pass — bounded relation, one pass is enough (r20).
      val sh3 = fanned(s, d).filter(col("doc_id") < 1000)
        .select(col("doc_id"),
          TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .localCheckpoint()
      // Every relation below derives from the FIXED ≤1000-doc audit slice
      // — bounded by construction at any corpus scale, but estimated from
      // the corpus scan it derives from (the q199 Finding-2 class), so the
      // broadcasts are pinned.
      val sizes = sh3.select(col("doc_id"), size(col("sh")).as("sz"))
      val ex = sh3.select(col("doc_id"), explode(col("sh")).as("g"))
      val pairs = ex.alias("a")
        .join(broadcast(ex.alias("b")),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa"))), "doc_a")
        .join(broadcast(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb"))), "doc_b")
        .withColumn("jaccard",
          round(lit(1e6) * col("inter") / (col("sa") + col("sb") - col("inter"))) / 1e6)
        .filter(col("jaccard") >= BkThreshold)
        .select("doc_a", "doc_b", "jaccard")
      val bk = sh3.select(col("doc_id"), expr(
        "slice(array_sort(array_distinct(transform(sh, " +
          s"g -> cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint)))), 1, $BkK)").as("bka"))
      pairs
        .join(broadcast(bk.select(col("doc_id").as("doc_a"), col("bka").as("ba"))), "doc_a")
        .join(broadcast(bk.select(col("doc_id").as("doc_b"), col("bka").as("bb"))), "doc_b")
        .withColumn("ub", expr(s"slice(array_sort(array_distinct(concat(ba, bb))), 1, $BkK)"))
        .withColumn("est_ppm", expr(
          "(1000000 * cast(size(array_intersect(array_intersect(ub, ba), bb)) as bigint))" +
            " div cast(size(ub) as bigint)"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"), col("est_ppm"),
          abs(round(lit(1e6) * col("jaccard")).cast("long") - col("est_ppm")).as("err_ppm"))
        .orderBy("doc_a", "doc_b")
    }
  )
}
