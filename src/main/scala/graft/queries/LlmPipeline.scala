package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.llm.{Dedup, Multimodal, TextOps}
import graft.model.Tables

/** The LLM-training-data-pipeline operator inventory over the `documents`
  * table (builder brief north-star; beyond the reference's own surface).
  * Text analysis, exact + near-duplicate detection, SimHash — each a lazy
  * Catalyst plan with a DuckDB oracle that recomputes the same semantics
  * independently (all-pairs where the Spark side uses bucketed LSH, so the
  * oracle also checks the LSH recall story, not just the arithmetic).
  */
object LlmPipeline {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Fan the single-split test corpus across partitions before heavy
    * map-side text work (tokenize/score/hash would otherwise serialize
    * into one task) — adaptive, see [[graft.etl.FanOut]]. */
  private def fanned(s: SparkSession, d: String) =
    graft.etl.FanOut.fanOut(docs(s, d), col("doc_id"))

  /** The corpus's hashed-shingle relation as a graft.etl.Artifact, built
    * once per corpus — the "hash once, fan consumers out" seam, same
    * production shape as Dedup's pair relation. q65's decontamination
    * sweep and q87's inverted-index join both read it instead of
    * re-running the fan-out + shingle map pass; at 100 TB this is a lake
    * table every curation job shares. */
  private[queries] def sharedShingles(docs: DataFrame): DataFrame =
    graft.etl.Artifact("shingles")(docs)(Dedup.shingleSets(_))

  /** Shared DuckDB CTE: tokenized documents. */
  private[queries] val toksCte =
    "SELECT doc_id, lang, source, n_chars, string_split(text, ' ') AS toks FROM documents"

  /** Shared DuckDB CTE: distinct word-3-gram shingle sets. */
  private[queries] val shinglesCte =
    """SELECT doc_id,
      |       list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
      |                                    i -> array_to_string(toks[i:i+2], ' '))) AS s
      |FROM t WHERE len(toks) >= 3""".stripMargin

  /** Shared DuckDB CTE chain: exact all-pairs 3-gram Jaccard ≥ 0.5 — the
    * oracle twin of the MinHash-LSH candidate + verify pipeline. */
  private[queries] val nearDupPairsSql =
    s"""WITH t AS ($toksCte),
       |sh AS ($shinglesCte),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |             round(1e6 * len(list_intersect(a.s, b.s))
       |                   / len(list_distinct(a.s || b.s))) / 1e6 AS jaccard
       |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)""".stripMargin

  val JaccardThreshold = 0.5
  val MaxHamming       = 1

  /** 32 SimHash per-bit weight terms for the DuckDB oracle (md5 hex digit
    * high bit, count-weighted) — textual twin of graft.functions.SimHashAgg. */
  private val simhashSigSql: String = {
    val terms = (1 to TextOps.SimhashBits).map { j =>
      s"""(CASE WHEN sum(c * (CASE WHEN substr(h, $j, 1) IN ('8','9','a','b','c','d','e','f')
         |     THEN 1 ELSE -1 END)) > 0 THEN CAST(${1L << (j - 1)} AS BIGINT) ELSE 0 END)""".stripMargin
    }.mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, tok, count(*) AS c, md5(tok) AS h
       |             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |             GROUP BY 1, 2),
       |sig AS (SELECT doc_id, ($terms) AS simhash FROM tok GROUP BY doc_id)""".stripMargin
  }

  val defs: Vector[Q] = Vector(

    // ── Text analysis: per-language token/char/subword statistics.
    //    Token counting = whitespace split; subwords = BPE-ish ~4-chars-per-
    //    token heuristic. One hash-agg shuffle on `lang`; the heavy part
    //    (tokenize + per-token aggregate()) is map-side, codegen'd.
    Q("q31_text_stats",
      s"""WITH t AS ($toksCte)
         |SELECT lang,
         |       count(*) AS n_docs,
         |       CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
         |       CAST(sum(${TextOps.subwordCountSql("toks")}) AS BIGINT) AS total_subwords,
         |       round(100.0 * sum(n_chars) / count(*)) / 100.0 AS avg_chars
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val toks = TextOps.tokens(col("text"))
      fanned(s, d)
        .select(col("lang"), col("n_chars"),
          size(toks).as("n_tokens"),
          TextOps.subwordCount(toks).as("n_subwords"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("total_tokens"),
          sum("n_subwords").cast("long").as("total_subwords"),
          (round(lit(100.0) * sum("n_chars") / count(lit(1))) / 100.0).as("avg_chars"))
        .orderBy("lang")
    },

    // ── Exact dedup via md5-fingerprint hash-groupBy. The corpus is
    //    documents ∪ a simulated re-crawl of the first 100 docs, so the
    //    operator has real duplicates to collapse; keep-min-doc_id policy.
    Q("q32_exact_dedup",
      """WITH corpus AS (SELECT * FROM documents
        |                UNION ALL
        |                SELECT * FROM documents WHERE doc_id < 100),
        |g AS (SELECT md5(text) AS fp, min(doc_id) AS doc_id,
        |             min(lang) AS lang, count(*) AS n_copies
        |      FROM corpus GROUP BY 1)
        |SELECT lang, count(*) AS n_unique, CAST(sum(n_copies - 1) AS BIGINT) AS n_dups
        |FROM g GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val corpus = docs(s, d).unionByName(docs(s, d).filter(col("doc_id") < 100))
      Dedup.exactDedup(corpus)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_unique"),
          sum(col("n_copies") - 1).cast("long").as("n_dups"))
        .orderBy("lang")
    },

    // ── Quality scoring (length / diversity / stopword-rate blend), top-20
    //    by score — filter-and-rank shape of a pre-training quality gate.
    //    TakeOrderedAndProject top-k: per-partition heaps, no global sort.
    Q("q33_quality_topk",
      s"""WITH t AS ($toksCte)
         |SELECT doc_id,
         |       ${TextOps.qualityScoreSql("toks", "len(toks)")} AS quality
         |FROM t ORDER BY quality DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      fanned(s, d)
        .select(col("doc_id"),
          TextOps.qualityScore(TextOps.tokens(col("text")), col("n_chars")).as("quality"))
        .orderBy(col("quality").desc, col("doc_id"))
        .limit(20)
    },

    // ── Language-ID heuristic vs the labeled lang column: the standard
    //    eval confusion-count query a data pipeline runs on a labeled slice.
    Q("q34_lang_id_eval",
      s"""WITH t AS ($toksCte)
         |SELECT lang, ${TextOps.langGuessSql("toks")} AS guess, count(*) AS n
         |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      fanned(s, d)
        .select(col("lang"), TextOps.langGuess(TextOps.tokens(col("text"))).as("guess"))
        .groupBy("lang", "guess").agg(count(lit(1)).as("n"))
        .orderBy("lang", "guess")
    },

    // ── MinHash-LSH near-duplicate pairs, exact-Jaccard verified at ≥ 0.5.
    //    Spark path: 64-hash MinHash → 32×2 LSH bands → bucketed self-join
    //    (shuffle on band slice, never all-pairs) → verify, materialized
    //    through the shared pair artifact (Dedup.nearDupPairsCkpt)
    //    that q36/q53 share instead of re-deriving the signatures. Oracle
    //    path: all-pairs exact Jaccard — feasible only at test scale, which
    //    is exactly why it makes the right oracle: it independently checks
    //    that LSH recall is 1 at this threshold, not just the arithmetic.
    Q("q35_near_dup_pairs",
      s"""$nearDupPairsSql
         |SELECT doc_a, doc_b, jaccard FROM p
         |WHERE jaccard >= $JaccardThreshold ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      Dedup.nearDupPairsCkpt(docs(s, d), JaccardThreshold).orderBy("doc_a", "doc_b")
    },

    // ── Near-dedup: keep-lowest-doc_id within each near-dup pair, then
    //    per-language survivor counts (the actual dedup a training pipeline
    //    applies with the pair relation above — consumed from the shared
    //    artifact, so the MinHash-LSH pipeline runs once per JVM).
    Q("q36_near_dedup",
      s"""$nearDupPairsSql
         |SELECT lang, count(*) AS n_docs
         |FROM documents
         |WHERE doc_id NOT IN (SELECT doc_b FROM p WHERE jaccard >= $JaccardThreshold)
         |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Dedup.nearDedup(docs(s, d), Dedup.nearDupPairsCkpt(docs(s, d), JaccardThreshold))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")
    },

    // ── Transitive near-dedup: connected components over the near-dup pair
    //    graph (min-label propagation to fixpoint), survivors = component
    //    minima + unpaired docs. Catches what the pairwise policy (q36)
    //    misses: in a star {(2,5), (3,5)} pairwise keeps both 2 and 3;
    //    clustering keeps only 2. Oracle: DuckDB recursive CTE computing
    //    min-reachable-id over the same exact-Jaccard pair graph.
    Q("q53_near_dedup_cc",
      s"""${nearDupPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p WHERE jaccard >= $JaccardThreshold
         |      UNION ALL
         |      SELECT doc_b, doc_a FROM p WHERE jaccard >= $JaccardThreshold),
         |r(id, m) AS (
         |      SELECT src, src FROM e
         |      UNION
         |      SELECT e.src, r.m FROM e JOIN r ON r.id = e.dst),
         |lab AS (SELECT id, min(m) AS component FROM r GROUP BY id)
         |SELECT lang, count(*) AS n_docs
         |FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM lab WHERE component <> id)
         |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      // survivors = everyone not dominated within a transitive cluster;
      // labels ride the label artifact (built once, shared with
      // q182/q192) instead of re-running the star contraction per run
      docs(s, d).join(
          Dedup.ccLabelsCkpt(docs(s, d), JaccardThreshold)
            .filter(col("component") =!= col("doc_id")).select("doc_id"),
          Seq("doc_id"), "left_anti")
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")
    },

    // ── Duplicate-cluster size histogram — the crawl-pathology signal on
    //    top of q53's transitive clusters: how many near-dup clusters of
    //    each size does the corpus carry? A healthy crawl shows a thin
    //    tail of small clusters; mirror farms and template spam show up
    //    as mass at large sizes (and would make pairwise-only dedup
    //    quadratically wasteful — the q36 vs q53 policy gap, quantified).
    //    Shares the pair and label artifacts (the O(log n) star CC);
    //    the histogram itself is two tiny aggregates over the
    //    component-sized label relation. Oracle: the q53 recursive CTE,
    //    re-aggregated.
    Q("q182_dup_cluster_histogram",
      s"""${nearDupPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p WHERE jaccard >= $JaccardThreshold
         |      UNION ALL
         |      SELECT doc_b, doc_a FROM p WHERE jaccard >= $JaccardThreshold),
         |r(id, m) AS (
         |      SELECT src, src FROM e
         |      UNION
         |      SELECT e.src, r.m FROM e JOIN r ON r.id = e.dst),
         |lab AS (SELECT id, min(m) AS component FROM r GROUP BY id),
         |cs AS (SELECT component, CAST(count(*) AS BIGINT) AS csize FROM lab GROUP BY 1)
         |SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(sum(csize) AS BIGINT) AS n_docs
         |FROM cs GROUP BY csize ORDER BY csize""".stripMargin) { (s, d) =>
      Dedup.ccLabelsCkpt(docs(s, d), JaccardThreshold)
        .groupBy("component").agg(count(lit(1)).cast("long").as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_clusters"),
          sum("csize").cast("long").as("n_docs"))
        .orderBy("csize")
    },

    // ── Cross-source contamination matrix — WHERE the near-duplication
    //    lives: every verified pair labeled with its two documents'
    //    sources (unordered), counted per source pair. Within-source mass
    //    is ordinary crawl redundancy; cross-source mass is one corpus
    //    leaking into another (a mirror, a scraped re-host, an
    //    aggregator) — the signal that decides which SOURCE to drop,
    //    which per-document dedup alone never surfaces. Rides the shared
    //    pair checkpoint; two broadcast dim joins (documents' (doc_id,
    //    source) projection) and one hash agg on the source pair.
    Q("q184_cross_source_contamination",
      s"""$nearDupPairsSql,
         |src AS (SELECT doc_id, source FROM documents),
         |lp AS (SELECT least(sa.source, sb.source) AS source_a,
         |              greatest(sa.source, sb.source) AS source_b,
         |              p.jaccard
         |       FROM p JOIN src sa ON sa.doc_id = p.doc_a
         |              JOIN src sb ON sb.doc_id = p.doc_b
         |       WHERE p.jaccard >= $JaccardThreshold)
         |SELECT source_a, source_b,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(CASE WHEN source_a = source_b THEN 0 ELSE 1 END) AS BIGINT)
         |         AS n_cross,
         |       max(jaccard) AS max_jaccard
         |FROM lp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val src = docs(s, d).select(col("doc_id"), col("source"))
      Dedup.nearDupPairsCkpt(docs(s, d), JaccardThreshold)
        .join(broadcast(src.select(col("doc_id").as("doc_a"), col("source").as("sa"))), "doc_a")
        .join(broadcast(src.select(col("doc_id").as("doc_b"), col("source").as("sb"))), "doc_b")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("source_a") === col("source_b"), 0L).otherwise(1L))
            .cast("long").as("n_cross"),
          max("jaccard").as("max_jaccard"))
        .orderBy("source_a", "source_b")
    },

    // ── EXACT n-gram Jaccard pairs via inverted-index join — the third
    //    algorithm over the same pair relation (q35 = LSH candidates +
    //    verify; the oracle = all-pairs; this = candidates from sharing ≥1
    //    shingle, intersection counted on the shingle-hash join, union by
    //    inclusion-exclusion). No approximation anywhere: candidate recall
    //    is 1 by construction (J > 0 ⇒ a shared shingle exists). The cost
    //    model is the flip side: a shingle in k docs emits k² candidate
    //    rows, so this is the right tool when shingle document-frequency
    //    is bounded and LSH (q35) when it is skewed. This corpus's 31-token
    //    vocabulary makes shingles collide heavily, so the operator runs on
    //    a 1000-doc slice — the bounded-baseline pattern of q45 — and the
    //    oracle runs all-pairs over the same slice.
    Q("q87_ngram_jaccard", {
      val slicedToks = toksCte + " WHERE doc_id < 1000"
      s"""WITH t AS ($slicedToks),
         |sh AS ($shinglesCte),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             round(1e6 * len(list_intersect(a.s, b.s))
         |                   / len(list_distinct(a.s || b.s))) / 1e6 AS jaccard
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, jaccard FROM p
         |WHERE jaccard >= $JaccardThreshold ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, d) =>
      val sh = sharedShingles(docs(s, d)).filter(col("doc_id") < 1000)
      val sizes = sh.select(col("doc_id"), size(col("shingles")).as("sz"))
      val ex = sh.select(col("doc_id"), explode(col("shingles")).as("g"))
      ex.alias("a")
        .join(ex.alias("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb")), "doc_b")
        .withColumn("jaccard",
          round(lit(1e6) * col("inter") / (col("sa") + col("sb") - col("inter"))) / 1e6)
        .filter(col("jaccard") >= JaccardThreshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    },

    // ── SimHash near-dup pairs at Hamming ≤ 1 over a count-weighted 32-bit
    //    signature. Spark path: 2×16-bit pigeonhole bands (guaranteed recall
    //    to hamming 1) → bucketed join → exact bit_count(xor) verify.
    //    Oracle: all-pairs Hamming over the identically-computed signature.
    Q("q37_simhash_pairs",
      s"""$simhashSigSql
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= $MaxHamming
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      Dedup.simhashPairs(docs(s, d), MaxHamming).orderBy("doc_a", "doc_b")
    },

    // ── Perceptual-hash (dHash) media near-dup — the dedup × multimodal
    //    cell: payloads stride-"resized" to a 33-sample grid at the q42
    //    decode seam, 32-bit gradient-sign signature, 4×8-bit pigeonhole
    //    bands (recall 1 to Hamming 3), exact bit_count(xor) verify.
    //    Oracle: the identically-derived signature per doc (byte math on
    //    the ASCII payload — q67's byte/char equivalence), then ALL-PAIRS
    //    Hamming — so the banding recall claim is independently checked,
    //    not just the hash arithmetic. Payloads never shuffle: only the
    //    12-byte (doc_id, dhash) rows reach the band join.
    Q("q188_phash_media_pairs",
      s"""WITH g AS (SELECT doc_id, len(text) AS L, text FROM documents),
         |s AS (SELECT doc_id, i,
         |        ascii(text[CASE WHEN L > ${Multimodal.DhashGrid} THEN (i * L) // ${Multimodal.DhashGrid} + 1 ELSE i + 1 END :
         |                   CASE WHEN L > ${Multimodal.DhashGrid} THEN (i * L) // ${Multimodal.DhashGrid} + 1 ELSE i + 1 END]) AS v
         |      FROM g, unnest(range(0, least(L, ${Multimodal.DhashGrid}))) AS u(i)),
         |b AS (SELECT a.doc_id,
         |             CASE WHEN a.v < c.v THEN CAST(1 AS BIGINT) << a.i ELSE 0 END AS bit
         |      FROM s a JOIN s c ON a.doc_id = c.doc_id AND c.i = a.i + 1),
         |sig AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash FROM b GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.dhash, c.dhash)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig c ON a.doc_id < c.doc_id
         |WHERE bit_count(xor(a.dhash, c.dhash)) <= ${Multimodal.DhashBands - 1}
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      implicit val sp: SparkSession = s
      Multimodal.dhashPairs(Multimodal.asMedia(docs(s, d)), Multimodal.DhashBands - 1)
        .orderBy("doc_a", "doc_b")
    },

    // ── Rolling-hash document fingerprinting: order-sensitive polynomial
    //    hash over the token stream (vs q32's order-insensitive content
    //    md5). Map-side only; values are compared engine-to-engine
    //    directly, so the fold arithmetic itself is verified.
    Q("q48_rolling_fingerprint",
      s"""WITH t AS ($toksCte)
         |SELECT doc_id, ${TextOps.rollingFingerprintSql("toks")} AS fp
         |FROM t WHERE doc_id < 25 ORDER BY doc_id""".stripMargin) { (s, d) =>
      fanned(s, d).filter(col("doc_id") < 25)
        .select(col("doc_id"),
          TextOps.rollingFingerprint(TextOps.tokens(col("text"))).as("fp"))
        .orderBy("doc_id")
    },

    // ── Multimodal-column plumbing, metadata path: payloads as opaque
    //    binary + typed (n_bytes, checksum) metadata derived map-side
    //    without decoding; per-source rollup with a deterministic fake
    //    feature from the checksum. The batched mapPartitions decode seam
    //    lives in graft.llm.Multimodal (unit-tested; a decode stub is not
    //    SQL-expressible, so only the metadata path carries an oracle).
    Q("q42_multimodal_meta",
      """SELECT source, count(*) AS n,
        |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |       count(DISTINCT md5(text)) AS n_distinct,
        |       round(100.0 * sum(('0x' || substr(md5(text), 1, 4))::BIGINT) / count(*)) / 100.0
        |         AS avg_feat
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      graft.llm.Multimodal.withMeta(graft.llm.Multimodal.asMedia(fanned(s, d)))
        .select(col("source"), col("meta.n_bytes").as("n_bytes"),
          col("meta.checksum").as("checksum"),
          conv(substring(col("meta.checksum"), 1, 4), 16, 10).cast("long").as("feat"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n"),
          sum("n_bytes").cast("long").as("total_bytes"),
          countDistinct("checksum").as("n_distinct"),
          (round(lit(100.0) * sum("feat") / count(lit(1))) / 100.0).as("avg_feat"))
        .orderBy("source")
    },

    // ── Frame sampling (multimodal 1→N seam): every 3rd 64-byte frame of
    //    each payload, then per-doc reassembly + checksum of the sampled
    //    byte subsequence. The oracle regenerates frames with
    //    range/substring and string_agg — so the frame boundaries, the
    //    sampling stride, the short-tail frame, AND the reassembly order
    //    are all independently verified. (Payload bytes are pure ASCII in
    //    this corpus, so character substr == byte slicing in the oracle.)
    Q("q67_multimodal_frame_sample",
      """WITH fr AS (
        |  SELECT doc_id,
        |         unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT))) AS idx,
        |         text
        |  FROM documents),
        |sampled AS (
        |  SELECT doc_id, idx, substring(text, CAST(1 + idx*64 AS BIGINT), 64) AS f
        |  FROM fr WHERE idx % 3 = 0)
        |SELECT doc_id, count(*) AS n_frames,
        |       CAST(sum(length(f)) AS BIGINT) AS sample_bytes,
        |       md5(string_agg(f, '' ORDER BY idx)) AS sample_md5
        |FROM sampled GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      implicit val sp: SparkSession = s
      graft.llm.Multimodal.frameSample(
          graft.llm.Multimodal.asMedia(fanned(s, d)), frameBytes = 64, every = 3)
        .toDF()
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_frames"),
          sum(octet_length(col("frame"))).cast("long").as("sample_bytes"),
          md5(aggregate(
            transform(
              array_sort(collect_list(struct(col("frame_idx"), col("frame")))),
              _.getField("frame")),
            lit(Array.emptyByteArray),
            (acc, f) => concat(acc, f))).as("sample_md5"))
        .orderBy("doc_id")
    },

    // ── Resize stage (1→1 bytes→smaller-bytes seam, the q67 frame-sample
    //    pattern applied to Multimodal.resized): stride-sample every
    //    payload down to ≤100 bytes map-side (payloads never shuffle),
    //    then checksum the result. The stub's stride pick
    //    out[i] = payload[(i·len) div 100] is substring-expressible, so
    //    the DuckDB twin reassembles the identical resized bytes
    //    independently — closing the multimodal quartet's last oracle gap
    //    (metadata q42, frames q67, features ad-hoc, resize here).
    Q("q88_multimodal_resize",
      """WITH src AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |big AS (
        |  SELECT doc_id,
        |         string_agg(substring(text, CAST(1 + (i * len) // 100 AS BIGINT), 1),
        |                    '' ORDER BY i) AS rz
        |  FROM (SELECT doc_id, text, len, unnest(range(0, 100)) AS i
        |        FROM src WHERE len > 100) b
        |  GROUP BY doc_id),
        |small AS (SELECT doc_id, text AS rz FROM src WHERE len <= 100),
        |allr AS (SELECT * FROM big UNION ALL SELECT * FROM small)
        |SELECT doc_id, CAST(length(rz) AS BIGINT) AS n_bytes, md5(rz) AS checksum
        |FROM allr ORDER BY doc_id""".stripMargin) { (s, d) =>
      implicit val sp: SparkSession = s
      graft.llm.Multimodal.resized(
          graft.llm.Multimodal.asMedia(fanned(s, d)), targetBytes = 100)
        .toDF()
        .select(col("doc_id"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("checksum"))
        .orderBy("doc_id")
    },

    // ── Audio-waveform analysis (the quartet's audio member, completing
    //    metadata q42 / frames q67 / resize q88): payload bytes as PCM-u8
    //    samples → 32-sample frames → integer energy/peak per frame via
    //    the Multimodal.waveform mapPartitions seam, then per-doc frame
    //    aggregates incl. the arg-max frame (loudest window — what an
    //    audio curation pass clips around). The per-char oracle unnest is
    //    O(corpus bytes) in DuckDB but the SPARK side never explodes to
    //    chars: the frame loop runs inside one map pass, so 100 TB of
    //    audio shuffles only ~doc_count×frames tiny integer rows. Arg-max
    //    is the deterministic window form (min frame_idx among frames
    //    attaining the per-doc max), not engine-specific max_by/arg_max
    //    whose tie rules differ.
    Q("q127_audio_waveform",
      """WITH fr AS (
        |  SELECT doc_id,
        |         unnest(range(0, CAST(ceil(length(text) / 32.0) AS BIGINT))) AS idx,
        |         text
        |  FROM documents),
        |f AS (SELECT doc_id, idx,
        |             substring(text, CAST(1 + idx * 32 AS BIGINT), 32) AS fb
        |      FROM fr),
        |ch AS (SELECT doc_id, idx, fb,
        |              unnest(range(1, length(fb) + 1)) AS p
        |       FROM f),
        |en AS (SELECT doc_id, idx,
        |              sum(ord(substring(fb, CAST(p AS BIGINT), 1))) AS energy,
        |              max(ord(substring(fb, CAST(p AS BIGINT), 1))) AS peak
        |       FROM ch GROUP BY 1, 2),
        |mx AS (SELECT doc_id, idx, energy, peak,
        |              max(energy) OVER (PARTITION BY doc_id) AS me
        |       FROM en)
        |SELECT doc_id,
        |       count(*) AS n_frames,
        |       CAST(sum(energy) AS BIGINT) AS total_energy,
        |       CAST(max(energy) AS BIGINT) AS peak_energy,
        |       CAST(min(CASE WHEN energy = me THEN idx END) AS BIGINT) AS peak_frame,
        |       CAST(max(peak) AS BIGINT) AS peak_sample
        |FROM mx GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      implicit val sp: SparkSession = s
      val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      graft.llm.Multimodal.waveform(
          graft.llm.Multimodal.asMedia(fanned(s, d)), frameBytes = 32)
        .toDF()
        .withColumn("me", max("energy").over(w))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_frames"),
          sum("energy").cast("long").as("total_energy"),
          max("energy").cast("long").as("peak_energy"),
          min(when(col("energy") === col("me"), col("frame_idx")))
            .cast("long").as("peak_frame"),
          max("peak").cast("long").as("peak_sample"))
        .orderBy("doc_id")
    },

    // ── Deterministic train/val/test split: assign each document to a
    //    split by a stable content-independent hash bucket
    //    (md5(doc_id) % 100 → 80/10/10). THE reproducibility primitive of
    //    a training pipeline: the same doc lands in the same split on any
    //    cluster, any partitioning, any rerun — unlike randomSplit, whose
    //    assignment depends on partitioning. Map-side + one small agg
    //    shuffle; md5 is the one hash both engines share bit-for-bit.
    Q("q68_deterministic_split",
      """WITH b AS (
        |  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS bucket
        |  FROM documents),
        |s AS (SELECT CASE WHEN bucket < 80 THEN 'train'
        |                  WHEN bucket < 90 THEN 'val'
        |                  ELSE 'test' END AS split,
        |             n_chars, lang, doc_id
        |      FROM b)
        |SELECT split, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       count(DISTINCT lang) AS n_langs,
        |       CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      docs(s, d)
        .withColumn("bucket",
          conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 100)
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("total_chars"),
          countDistinct("lang").as("n_langs"),
          min("doc_id").cast("long").as("first_doc"))
        .orderBy("split")
    },

    // ── Eval-set decontamination: find every corpus document sharing ≥1
    //    word-3-gram with a benchmark/eval slice (doc_id < 20) — the
    //    "did my training data leak the test set" sweep every pre-training
    //    pipeline runs. Plan: explode distinct hashed shingles on both
    //    sides, hash-join on the shingle hash, aggregate per corpus doc —
    //    one shuffle on an 8-byte key, NO doc×doc comparison, so it runs
    //    at any eval-set × corpus scale. The oracle joins on the STRING
    //    3-grams (xxhash64 is Spark-only); doc-id results agree unless a
    //    64-bit hash collision occurs (~1e-9 here, same argument as q35).
    Q("q65_decontamination",
      s"""WITH t AS ($toksCte),
         |sh AS ($shinglesCte),
         |e AS (SELECT doc_id AS eval_doc, unnest(s) AS g FROM sh WHERE doc_id < 20),
         |c AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 20)
         |SELECT c.doc_id,
         |       count(DISTINCT e.eval_doc) AS n_eval_docs,
         |       count(DISTINCT c.g) AS n_shared
         |FROM c JOIN e ON c.g = e.g
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val sh = sharedShingles(docs(s, d))
        .select(col("doc_id"), explode(col("shingles")).as("g"))
      val eval = sh.filter(col("doc_id") < 20)
        .select(col("g"), col("doc_id").as("eval_doc"))
      sh.filter(col("doc_id") >= 20)
        .join(eval, "g")
        .groupBy("doc_id")
        .agg(
          countDistinct("eval_doc").as("n_eval_docs"),
          countDistinct("g").as("n_shared"))
        .orderBy("doc_id")
    }
  )
}
