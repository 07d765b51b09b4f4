package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.llm.{Dedup, TextOps}
import graft.model.Tables

/** Model-driven corpus curation — the statistical quality layer a
  * pretraining pipeline runs after the rule-based cleaning (q30-q34) and
  * dedup (q32-q37, q53, q181-q185) passes:
  *
  *   - q189: the Gopher repetition rule suite (Rae et al. 2021, table A1):
  *     per-document top-n-gram character fractions + duplicate-n-gram
  *     character fraction, thresholded into a keep/drop gate and rolled up
  *     per source — the standard "is this page template spam?" signal.
  *   - q190: a count-based naive-Bayes quality classifier (the fastText-
  *     style curated-vs-crawl filter of GPT-3/LLaMA lineage): trained on a
  *     weak label (curated sources vs the rest), scored as integer
  *     micro-unit log-odds so both engines replay the arithmetic exactly.
  *   - q191: DSIR-style importance weights (Xie et al. 2023): hashed
  *     n-gram LM log-ratio between a target distribution (lang = 'en')
  *     and the raw corpus, summed per document — the distribution-matching
  *     alternative to a trained classifier.
  *   - q192: quality-aware near-dedup survivorship: within each transitive
  *     near-dup cluster keep the HIGHEST-quality member (not the lowest
  *     doc_id) — the survivor policy real pipelines actually ship, riding
  *     the shared MinHash-LSH pair checkpoint + O(log n) CC labels.
  *
  * All float-accumulating metrics ride integer micro-units (BIGINT sums of
  * pre-rounded per-row values), so cross-engine hashes cannot drift on
  * float summation order — the q173/q179/q186 idiom.
  */
object CorpusModels {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  private def fanned(s: SparkSession, d: String) =
    graft.etl.FanOut.fanOut(docs(s, d), col("doc_id"))

  // ── q189 machinery ──────────────────────────────────────────────────

  /** Token n-grams as space-joined strings, widths ≥ 2. Callers must
    * pre-filter size(toks) ≥ w (Spark `sequence(1, n)` DESCENDS when
    * n < 1, unlike DuckDB's empty `range`). */
  private[queries] def grams(toks: Column, w: Int): Column =
    transform(sequence(lit(1), size(toks) - lit(w - 1)),
      i => concat_ws(" ", (0 until w).map(k => element_at(toks, i + lit(k))): _*))

  /** ppm of characters inside the most frequent n-gram: occurrences ×
    * gram length / doc chars. Map-side only — the per-doc O(distinct ×
    * grams) HOF scan beats a (doc, gram) shuffle at any scale (docs are
    * bounded; the shuffle would be corpus-sized). */
  private[queries] def topGramPpm(g: Column, nChars: Column): Column =
    round(lit(1e6) * array_max(transform(array_distinct(g),
      u => size(filter(g, x => x === u)) * length(u))).cast("double") / nChars)
      .cast("long")

  /** ppm of characters inside n-grams occurring more than once (capped at
    * 1e6 — overlapping grams double-count characters by construction). */
  private[queries] def dupGramPpm(g: Column, nChars: Column): Column =
    round(least(lit(1e6), lit(1e6) * aggregate(
      transform(array_distinct(g), u => {
        val c = size(filter(g, x => x === u))
        when(c > lit(1), (c * length(u)).cast("long")).otherwise(lit(0L))
      }),
      lit(0L), (a, b) => a + b).cast("double") / nChars))
      .cast("long")

  // Gopher-style gate thresholds (ppm), tuned to this corpus's synthetic
  // token distribution so the gate genuinely splits it (the published
  // prose thresholds — 0.20/0.18/0.15 — would pass ~everything here).
  private val Top2Max = 90000L  // ≤ 9% of chars in the top bigram
  private val Top3Max = 110000L // ≤ 11% in the top trigram
  private val Dup3Max = 20000L  // ≤ 2% in repeated trigrams

  private val gopherSql: String = {
    def gramsSql(w: Int) =
      s"list_transform(range(1, greatest(len(toks) - ${w - 2}, 1)), i -> array_to_string(toks[i:i+${w - 1}], ' '))"
    def topSql(g: String) =
      s"CAST(round(1e6 * list_max(list_transform(list_distinct($g), u -> len(list_filter($g, x -> x = u)) * length(u))) / n_chars) AS BIGINT)"
    def dupSql(g: String) =
      s"""CAST(round(least(1e6, 1e6 * list_sum(list_transform(list_distinct($g),
         |  u -> CASE WHEN len(list_filter($g, x -> x = u)) > 1
         |            THEN len(list_filter($g, x -> x = u)) * length(u) ELSE 0 END)) / n_chars)) AS BIGINT)""".stripMargin
    s"""WITH t AS (SELECT doc_id, source, n_chars, string_split(text, ' ') AS toks
       |           FROM documents),
       |g AS (SELECT doc_id, source, n_chars,
       |             ${gramsSql(2)} AS g2,
       |             ${gramsSql(3)} AS g3
       |      FROM t WHERE len(toks) >= 3),
       |f AS (SELECT doc_id, source,
       |             ${topSql("g2")} AS top2_ppm,
       |             ${topSql("g3")} AS top3_ppm,
       |             ${dupSql("g3")} AS dup3_ppm
       |      FROM g)""".stripMargin
  }

  // ── q190/q191 shared constants ──────────────────────────────────────

  /** Weak positive label for the quality classifier: the "curated" slice. */
  private val Curated = Seq("src0", "src1", "src2", "src3", "src4")
  private val CuratedSql = Curated.map(s => s"'$s'").mkString(", ")

  /** Hashed-feature space size for DSIR. */
  private val DsirBuckets = 256

  /** q194 epoch-shuffle parameters: salt names the epoch; 8 shards. */
  private val EpochSalt = "epoch7:"
  private val NShards   = 8

  /** round(1e6·ln(x)) micro-units — both engines compute ln over the same
    * IEEE double, one terminal rounding (the q173/q186 idiom). */
  private def microLn(x: Column): Column = round(lit(1e6) * log(x)).cast("long")

  /** Naive-Bayes curated-vs-rest log-odds per document (micro-exact) over
    * any (doc_id, source, text) relation — the q190 engine, parameterized
    * so specs can feed a corpus with a known separation. */
  private[queries] def nbLogOdds(docsDf: DataFrame, curated: Seq[String]): DataFrame = {
    val tok = docsDf
      .select(col("doc_id"), col("source").isin(curated: _*).as("pos"),
        explode(TextOps.tokens(col("text"))).as("tok"))
    val sc = tok.agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("nn"),
      countDistinct("tok").as("v"))
    val dc = docsDf.agg(
      sum(when(col("source").isin(curated: _*), 1L).otherwise(0L)).as("dp"),
      count(lit(1)).as("dall"))
    val cnt = tok.groupBy("tok").agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("cp"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("cn"))
    val w = cnt.crossJoin(broadcast(sc))
      .select(col("tok"),
        microLn((col("cp") + 1.0) / (col("np") + col("v"))).as("wp"),
        microLn((col("cn") + 1.0) / (col("nn") + col("v"))).as("wn"))
    val pr = dc.select(
      microLn(col("dp") * 1.0 / col("dall")).as("pp"),
      microLn((col("dall") - col("dp")) * 1.0 / col("dall")).as("pn"))
    tok.join(broadcast(w), "tok")
      .groupBy("doc_id", "pos")
      .agg(sum("wp").as("sp"), sum("wn").as("sn"))
      .crossJoin(broadcast(pr))
      .select(col("doc_id"), col("pos").as("is_curated"),
        (((col("pp") + col("sp")) - (col("pn") + col("sn"))).cast("double") / 1e6)
          .as("log_odds"))
  }

  /** DSIR hashed-bigram importance per document over any (doc_id, lang,
    * text) relation; target distribution = lang == `targetLang`. */
  private[queries] def dsirImportance(docsDf: DataFrame, targetLang: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    // ONE corpus tokenize+hash pass: the raw gram relation fed BOTH the
    // bucket model and the per-doc score join, so the corpus's dominant
    // map work (tokenize → bigram → md5) ran twice — at the 100× audit
    // q191 was a 64 s named linear driver, roughly half of it the second
    // pass. Fold to per-(doc, lang, bucket) counts first (a doc×bucket-
    // bounded relation), checkpoint THAT, and derive the bucket totals
    // and the weighted score (Σ n·wd ≡ the per-gram Σ wd — exact longs)
    // from it.
    val gd = docsDf
      .filter(size(toks) >= 2)
      .select(col("doc_id"), col("lang"), explode(grams(toks, 2)).as("g"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("g")), 1, 4), 16, 10).cast("long") % DsirBuckets).as("b"))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val r = gd.groupBy("b").agg(
      sum("n").cast("long").as("rc"),
      sum(when(col("lang") === targetLang, col("n")).otherwise(0L)).cast("long").as("tc"))
    val sc = r.agg(sum("rc").as("nr"), sum("tc").as("nt"))
    val w = r.crossJoin(broadcast(sc))
      .select(col("b"),
        (microLn((col("tc") + 1.0) / (col("nt") + DsirBuckets))
          - microLn((col("rc") + 1.0) / (col("nr") + DsirBuckets))).as("wd"))
    gd.join(broadcast(w), "b")
      .groupBy("doc_id", "lang")
      .agg((sum(col("n") * col("wd")).cast("double") / 1e6).as("importance"))
  }

  /** Quality-aware survivor rows (doc_id, lang, qp ppm, component) given a
    * verified pair relation: argmax quality per transitive cluster, ties
    * to the lowest doc_id; singletons survive unconditionally. */
  private[queries] def qualitySurvivors(docsDf: DataFrame, pairs: DataFrame): DataFrame =
    qualitySurvivorsFromLabels(docsDf, Dedup.connectedComponentsLogN(pairs))

  /** [[qualitySurvivors]] over a precomputed (doc_id, component) label
    * relation — the seam q192 uses to ride the shared CC label artifact
    * instead of re-running the star contraction per invocation. */
  private[queries] def qualitySurvivorsFromLabels(docsDf: DataFrame,
                                                  labels: DataFrame): DataFrame = {
    val q = docsDf.select(col("doc_id"), col("lang"),
      round(lit(1e6) * TextOps.qualityScore(TextOps.tokens(col("text")), col("n_chars")))
        .cast("long").as("qp"))
    q.join(labels, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("component").orderBy(col("qp").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  val defs: Vector[Q] = Vector(

    // ── Gopher repetition rules, per-source profile. Spark plan: one
    //    map-side pass (tokenize + HOF gram statistics per doc, no
    //    shuffle) → single hash-agg on `source`. At 100 TB the plan is
    //    scan-bound and embarrassingly parallel; nothing but the 20-row
    //    source rollup ever shuffles. Sums ride pre-rounded BIGINT ppm
    //    so partial-aggregation order cannot move the hash.
    Q("q189_gopher_repetition",
      s"""$gopherSql
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN top2_ppm <= $Top2Max AND top3_ppm <= $Top3Max
         |                      AND dup3_ppm <= $Dup3Max THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_pass,
         |       round(100.0 * sum(top2_ppm) / count(*)) / 100.0 AS avg_top2_ppm,
         |       round(100.0 * sum(top3_ppm) / count(*)) / 100.0 AS avg_top3_ppm,
         |       round(100.0 * sum(dup3_ppm) / count(*)) / 100.0 AS avg_dup3_ppm
         |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val toks = TextOps.tokens(col("text"))
      fanned(s, d)
        .filter(size(toks) >= 3)
        .select(col("source"),
          grams(toks, 2).as("g2"), grams(toks, 3).as("g3"), col("n_chars"))
        .select(col("source"),
          topGramPpm(col("g2"), col("n_chars")).as("top2_ppm"),
          topGramPpm(col("g3"), col("n_chars")).as("top3_ppm"),
          dupGramPpm(col("g3"), col("n_chars")).as("dup3_ppm"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("top2_ppm") <= Top2Max && col("top3_ppm") <= Top3Max &&
            col("dup3_ppm") <= Dup3Max, 1L).otherwise(0L)).cast("long").as("n_pass"),
          (round(lit(100.0) * sum("top2_ppm") / count(lit(1))) / 100.0).as("avg_top2_ppm"),
          (round(lit(100.0) * sum("top3_ppm") / count(lit(1))) / 100.0).as("avg_top3_ppm"),
          (round(lit(100.0) * sum("dup3_ppm") / count(lit(1))) / 100.0).as("avg_dup3_ppm"))
        .orderBy("source")
    },

    // ── Naive-Bayes quality classifier: train on curated-vs-rest weak
    //    labels, score every document, surface the top-20 most
    //    curated-looking. Spark plan: explode tokens (map-side) → ONE
    //    vocab-sized hash-agg for per-class counts → broadcast the weight
    //    relation + the 1-row scalar aggregate back onto the token stream
    //    → per-doc BIGINT sum → TakeOrdered top-k. The model (vocab ×
    //    2 weights) is dimension-sized, never the corpus — the exact
    //    shape that lets the same plan score 100 TB: training is one
    //    shuffle, scoring is a broadcast map-side join.
    Q("q190_nb_quality_classifier",
      s"""WITH tok AS (SELECT doc_id, source IN ($CuratedSql) AS pos,
         |                    unnest(string_split(text, ' ')) AS tok
         |             FROM documents),
         |sc AS (SELECT count(*) FILTER (WHERE pos) AS np,
         |              count(*) FILTER (WHERE NOT pos) AS nn,
         |              count(DISTINCT tok) AS v
         |       FROM tok),
         |dc AS (SELECT count(*) FILTER (WHERE source IN ($CuratedSql)) AS dp,
         |              count(*) AS dall
         |       FROM documents),
         |cnt AS (SELECT tok,
         |               count(*) FILTER (WHERE pos) AS cp,
         |               count(*) FILTER (WHERE NOT pos) AS cn
         |        FROM tok GROUP BY tok),
         |w AS (SELECT tok,
         |             CAST(round(1e6 * ln((cp + 1.0) / (sc.np + sc.v))) AS BIGINT) AS wp,
         |             CAST(round(1e6 * ln((cn + 1.0) / (sc.nn + sc.v))) AS BIGINT) AS wn
         |      FROM cnt, sc),
         |pr AS (SELECT CAST(round(1e6 * ln(dp * 1.0 / dall)) AS BIGINT) AS pp,
         |              CAST(round(1e6 * ln((dall - dp) * 1.0 / dall)) AS BIGINT) AS pn
         |       FROM dc),
         |s AS (SELECT t.doc_id, t.pos, sum(w.wp) AS sp, sum(w.wn) AS sn
         |      FROM tok t JOIN w USING (tok) GROUP BY t.doc_id, t.pos)
         |SELECT doc_id, pos AS is_curated,
         |       CAST((pr.pp + sp) - (pr.pn + sn) AS DOUBLE) / 1e6 AS log_odds
         |FROM s, pr ORDER BY log_odds DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      nbLogOdds(fanned(s, d), Curated)
        .orderBy(col("log_odds").desc, col("doc_id"))
        .limit(20)
    },

    // ── DSIR importance weights: hashed-bigram LM log-ratio between the
    //    target distribution (lang = 'en') and the raw corpus, summed per
    //    document — docs whose n-gram profile looks most target-like rank
    //    highest regardless of their label. Spark plan: map-side bigram +
    //    md5-bucket derivation → one 256-row hash-agg (the "model") →
    //    broadcast back onto the gram stream → per-doc BIGINT sum →
    //    top-k. The hashed feature space is FIXED-width (256 here, 10k-1M
    //    in production), so the model side never grows with the corpus —
    //    that is DSIR's whole scale story and this plan preserves it.
    Q("q191_dsir_importance",
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
         |gr AS (SELECT doc_id, lang,
         |              ('0x' || substr(md5(g), 1, 4))::BIGINT % $DsirBuckets AS b
         |       FROM (SELECT doc_id, lang,
         |                    unnest(list_transform(range(1, len(toks)),
         |                                          i -> array_to_string(toks[i:i+1], ' '))) AS g
         |             FROM t WHERE len(toks) >= 2)),
         |r AS (SELECT b, count(*) AS rc,
         |             count(*) FILTER (WHERE lang = 'en') AS tc
         |      FROM gr GROUP BY b),
         |sc AS (SELECT sum(rc) AS nr, sum(tc) AS nt FROM r),
         |w AS (SELECT b,
         |             CAST(round(1e6 * ln((tc + 1.0) / (sc.nt + $DsirBuckets))) AS BIGINT)
         |             - CAST(round(1e6 * ln((rc + 1.0) / (sc.nr + $DsirBuckets))) AS BIGINT)
         |               AS wd
         |      FROM r, sc)
         |SELECT gr.doc_id, gr.lang,
         |       CAST(sum(w.wd) AS DOUBLE) / 1e6 AS importance
         |FROM gr JOIN w USING (b)
         |GROUP BY gr.doc_id, gr.lang
         |ORDER BY importance DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      dsirImportance(fanned(s, d), "en")
        .orderBy(col("importance").desc, col("doc_id"))
        .limit(20)
    },

    // ── Quality-aware near-dedup survivorship: within each transitive
    //    near-dup cluster (shared MinHash-LSH pair checkpoint + O(log n)
    //    CC labels) keep the highest-quality member, ties to the lowest
    //    doc_id; singletons survive as their own cluster. The survivor
    //    policy real pipelines ship — q36/q53's keep-min-id is the
    //    determinism baseline, this is the quality-preserving upgrade.
    //    Plan: pair checkpoint (amortized across q36/q53/q182/q184) →
    //    CC label relation (cluster-sized, tiny) → ONE window over
    //    (component) — partition-local, no global sort — → per-lang
    //    rollup on pre-rounded BIGINT ppm. Oracle: recursive-CTE CC +
    //    the same argmax, independently in DuckDB.
    Q("q192_quality_survivor",
      s"""${LlmPipeline.nearDupPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p WHERE jaccard >= ${LlmPipeline.JaccardThreshold}
         |      UNION ALL
         |      SELECT doc_b, doc_a FROM p WHERE jaccard >= ${LlmPipeline.JaccardThreshold}),
         |r(id, m) AS (
         |      SELECT src, src FROM e
         |      UNION
         |      SELECT e.src, r.m FROM e JOIN r ON r.id = e.dst),
         |lab AS (SELECT id, min(m) AS component FROM r GROUP BY id),
         |q AS (SELECT doc_id, lang,
         |             CAST(round(1e6 * ${TextOps.qualityScoreSql("toks", "len(toks)")}) AS BIGINT) AS qp
         |      FROM t),
         |lq AS (SELECT q.doc_id, q.lang, q.qp,
         |              coalesce(lab.component, q.doc_id) AS component
         |       FROM q LEFT JOIN lab ON lab.id = q.doc_id),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY component
         |                                    ORDER BY qp DESC, doc_id) AS rn
         |       FROM lq)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_survivors,
         |       round(100.0 * sum(qp) / count(*)) / 100.0 AS avg_q_ppm
         |FROM rk WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      qualitySurvivorsFromLabels(fanned(s, d),
          Dedup.ccLabelsCkpt(docs(s, d), LlmPipeline.JaccardThreshold))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_survivors"),
          (round(lit(100.0) * sum("qp") / count(lit(1))) / 100.0).as("avg_q_ppm"))
        .orderBy("lang")
    },

    // ── Deterministic epoch shuffle + sharding: the last hop before
    //    training. Shuffle key = md5(epoch_salt ‖ doc_id) — a new salt
    //    reshuffles every epoch, the same salt replays byte-identically;
    //    shard = key-prefix mod NShards. At 100 TB the operator is
    //    `repartitionByRange(shard, key).sortWithinPartitions` into shard
    //    files (one range shuffle, no global sort); what is VERIFIABLE
    //    cross-engine is its contract, which this query pins: shard
    //    balance (n_docs per shard ≈ uniform), shard key ranges
    //    (min/max), and — on the bounded q75-style slice, because an
    //    ordered fingerprint is the one agg partial aggregation cannot
    //    save — the md5 of the slice's ids in shuffle order, proving
    //    both engines derive the identical permutation.
    Q("q194_epoch_shards",
      s"""WITH k AS (SELECT doc_id,
         |                  md5('$EpochSalt' || CAST(doc_id AS VARCHAR)) AS key
         |           FROM documents),
         |s AS (SELECT doc_id, key,
         |             ('0x' || substr(key, 1, 4))::BIGINT % $NShards AS shard
         |      FROM k)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |       min(key) AS min_key, max(key) AS max_key,
         |       md5(coalesce(string_agg(CAST(doc_id AS VARCHAR), ','
         |                               ORDER BY key, doc_id)
         |                      FILTER (WHERE doc_id < 1000), '')) AS slice_order_md5
         |FROM s GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      epochShards(docs(s, d), EpochSalt, NShards).orderBy("shard")
    }
  )

  /** Per-shard epoch-shuffle stats for any (doc_id) relation — the q194
    * engine, parameterized on the epoch salt so specs can show a new salt
    * yields a new permutation while the same salt replays identically. */
  private[queries] def epochShards(docsDf: DataFrame, salt: String, nShards: Int): DataFrame = {
    val key = md5(concat(lit(salt), col("doc_id").cast("string")))
    docsDf
      .select(col("doc_id"), key.as("key"),
        (conv(substring(key, 1, 4), 16, 10).cast("long") % nShards).as("shard"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        min("key").as("min_key"), max("key").as("max_key"),
        md5(concat_ws(",",
          transform(
            array_sort(collect_list(when(col("doc_id") < 1000,
              struct(col("key"), col("doc_id"))))),
            x => x.getField("doc_id").cast("string")))).as("slice_order_md5"))
  }
}
