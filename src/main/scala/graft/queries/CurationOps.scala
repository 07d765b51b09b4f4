package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, TextOps}
import graft.model.Tables

/** Corpus-curation operators a production training-data pipeline runs
  * between crawls (beyond the reference's surface, next to
  * [[LlmPipeline]]/[[TextCorpus]]): incremental batch-vs-corpus dedup,
  * one BPE merge step, and cross-document repeated-n-gram (boilerplate)
  * measurement. Shared idioms: whitespace tokens = DuckDB
  * `string_split`, exact integer counts everywhere, ratios as one IEEE
  * divide + 6dp round.
  */
object CurationOps {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def fanned(s: SparkSession, d: String) =
    graft.etl.FanOut.fanOut(docs(s, d), col("doc_id"))

  /** The corpus/batch split point — last ~20% of doc_ids is "today's
    * crawl". Derived from the data (0.8 · max id) so the split scales
    * with the sf dir on both engines. */
  private val thrSql =
    "SELECT CAST(floor(0.8 * max(doc_id)) AS BIGINT) AS v FROM documents"

  /** Number of merge steps the q164 BPE training loop runs. */
  val BpeSteps = 10

  /** Tokens per packed training sequence (q177). */
  val PackBudget = 2048

  /** Minimum repeated-substring length (tokens) for q185 — the ExactSubstr
    * threshold; public pipelines use 50 BPE tokens, scaled here to the
    * corpus's ≤99-token documents. */
  val MinRepeatTokens = 16

  /** Per-document bigram-LM surprisal under the corpus's own add-one-
    * smoothed bigram model (the q173 scorer, shared with [[AuditOps]]'s
    * q210 curriculum): (doc_id, n_bigrams, ssum) where `ssum` is the
    * exact-BIGINT sum of per-bigram micro-rounded −ln P(w2|w1). The model
    * relations (cb/cw/vv) are vocab-sized, never corpus-sized; the score
    * join is a hash join on the bigram key. */
  private[queries] def bigramSurprisal(docs: DataFrame): DataFrame = {
    val t2 = graft.etl.FanOut.fanOut(docs, col("doc_id"))
      .withColumn("toks", TextOps.tokens(col("text")))
      .filter(size(col("toks")) >= 2)
    // ONE corpus pass: the bigram relation is checkpointed, and both model
    // relations derive from the vocab²-bounded bigram COUNTS instead of
    // re-exploding the corpus — cw (unigram-as-first-word counts) is
    // Σ n2 grouped by w1, and the vocabulary is the distinct union of the
    // two split positions of cb's keys (every token of a ≥2-token doc
    // occurs in some bigram, as first word or last), exactly the counts
    // the previous three-pass formulation produced. The vocab size is the
    // sanctioned O(1)-row scalar, embedded as a literal. (The previous
    // shape re-ran tokenize+explode for cb, cw AND vv: 3 corpus passes.)
    val bgs = t2.select(col("doc_id"), explode(expr(
      "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))")).as("bg"))
      .localCheckpoint()
    val cb = bgs.groupBy("bg").agg(count(lit(1)).as("n2")).localCheckpoint()
    val cw = cb.select(expr("split_part(bg, ' ', 1)").as("w1"), col("n2"))
      .groupBy("w1").agg(sum("n2").cast("long").as("n1"))
    val v = cb.select(expr("split_part(bg, ' ', 1)").as("tok"))
      .unionByName(cb.select(expr("split_part(bg, ' ', 2)").as("tok")))
      .agg(countDistinct("tok")).head.getLong(0)
    bgs.join(cb, "bg")
      .withColumn("w1", expr("split_part(bg, ' ', 1)"))
      .join(cw, "w1")
      .select(col("doc_id"),
        round(lit(1e6) * -log((col("n2") + 1).cast("double") / (col("n1") + lit(v))))
          .cast("long").as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum("s").cast("long").as("ssum"))
  }

  /** Per-doc surprisal relation `d(doc_id, n_bigrams, ssum)` as a
    * graft.etl.Artifact, built once per corpus — the trained-model seam,
    * same contract as TextCorpus's tokenized relation and Dedup's pair
    * relation: q173 (perplexity filter) and q210 (curriculum phases)
    * consume the IDENTICAL bigram-LM scores, and at 100 TB a model-score
    * relation is a maintained lake table refreshed with the corpus, not a
    * per-query recomputation. */
  private[queries] def bigramSurprisalCkpt(docs: DataFrame): DataFrame =
    graft.etl.Artifact("surprisal")(docs)(bigramSurprisal)

  /** DuckDB CTE chain replaying [[bigramSurprisal]]; terminal relation is
    * `d(doc_id, n_bigrams, ssum)`. Embed as `WITH $surprisalCtes, ...`. */
  private[queries] val surprisalCtes: String =
    s"""t AS (${LlmPipeline.toksCte}),
       |t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
       |bgs AS (SELECT doc_id,
       |               unnest(list_transform(range(1, len(toks)),
       |                      j -> toks[j] || ' ' || toks[j+1])) AS bg
       |        FROM t2),
       |cb AS (SELECT bg, CAST(count(*) AS BIGINT) AS n2 FROM bgs GROUP BY 1),
       |cw AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(count(*) AS BIGINT) AS n1
       |       FROM bgs GROUP BY 1),
       |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
       |       FROM (SELECT unnest(toks) AS tok FROM t2)),
       |st AS (SELECT b.doc_id,
       |              CAST(round(1e6 * -ln(CAST(n2 + 1 AS DOUBLE) / (n1 + v))) AS BIGINT) AS s
       |       FROM bgs b JOIN cb ON cb.bg = b.bg
       |       JOIN cw ON cw.w1 = split_part(b.bg, ' ', 1)
       |       CROSS JOIN vv),
       |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |             CAST(sum(s) AS BIGINT) AS ssum
       |      FROM st GROUP BY 1)""".stripMargin

  // ── Unigram-LM (EM) tokenizer trainer constants (q186/q187) ──────────
  /** EM iterations for the unigram trainer. */
  val EmSteps = 2
  /** Multi-character seed pieces kept (all single chars always stay).
    * 250 ≈ every substring this corpus produces — the standard unigram
    * seed (all frequent substrings, then let EM prune): at 40 the seed
    * was all 2-grams and compression stalled at 1.4×; with the full
    * seed the EM settles on word-level pieces and >2× vs characters. */
  val SeedMulti = 250
  /** Word-length cap for the enumerated segmentation lattice: a word of
    * length L has 2^(L−1) segmentations, so the relational lattice is
    * only materialized for words up to this bound (this corpus's words
    * are ≤8 chars; the cap documents the guard, it doesn't bite). */
  val MaxUnigramWordLen = 12

  /** DuckDB replay of the K-step BPE training loop (q164): the same
    * chained word-frequency → pair-count → argmax → merge-apply steps,
    * generated as one CTE chain (v0 → sy1/pc1/b1 → v1 → … → b{K}).
    * The symbol-string representation and the greedy merge-by-`replace`
    * are shared with the Spark side — see the q164 comment. */
  private def bpeOracleSql(k: Int): String =
    bpeChainSql(k, withFinalVocab = false) +
      (1 to k)
        .map(i => s"SELECT CAST($i AS BIGINT) AS step, pair, cnt AS n FROM b$i")
        .mkString("", " UNION ALL ", "") +
      " ORDER BY step"

  /** The shared CTE chain, optionally extended with v{K} (the fully
    * merged vocabulary — what the ENCODE query q169 aggregates). */
  private def bpeChainSql(k: Int, withFinalVocab: Boolean): String = {
    val sb = new StringBuilder
    sb.append(s"WITH t AS (${LlmPipeline.toksCte}),\n")
    sb.append("w AS (SELECT unnest(toks) AS word FROM t),\n")
    // v0: word-frequency table; symbol string = chars joined by TWO
    // spaces, padded with ONE space each side (see q164 comment).
    // Every chain CTE is MATERIALIZED: v_i references b_i twice and
    // v_{i-1} once, so DuckDB's default inlining would expand the
    // documents scan 3^K times.
    sb.append("v0 AS MATERIALIZED (SELECT count(*) AS n, " +
      "' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s " +
      "FROM w WHERE regexp_full_match(word, '[a-z]+') GROUP BY word),\n")
    for (i <- 1 to k) {
      val p = i - 1
      sb.append(s"pc$i AS MATERIALIZED (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM " +
        s"(SELECT unnest(list_transform(range(1, len(sy)), j -> sy[j] || ' ' || sy[j+1])) AS pair, n " +
        s"FROM (SELECT n, string_split(trim(s), '  ') AS sy FROM v$p) " +
        s"WHERE len(sy) >= 2) GROUP BY pair),\n")
      val last = i == k
      val emitV = !last || withFinalVocab
      sb.append(s"b$i AS MATERIALIZED (SELECT pair, cnt FROM pc$i ORDER BY cnt DESC, pair LIMIT 1)" +
        (if (emitV) ",\n" else "\n"))
      if (emitV)
        sb.append(s"v$i AS MATERIALIZED (SELECT n, replace(s, " +
          s"' ' || replace((SELECT pair FROM b$i), ' ', '  ') || ' ', " +
          s"' ' || replace((SELECT pair FROM b$i), ' ', '') || ' ') AS s FROM v$p)" +
          (if (last) "\n" else ",\n"))
    }
    sb.toString
  }

  /** The trained state both BPE queries consume — memoized per (session,
    * sf dir) so q164 (the merge table) and q169 (the encoded vocabulary)
    * run ONE training pass between them, the way a production pipeline
    * trains once and applies everywhere. Returns the K merge rows and the
    * final vocab relation with all K merges applied. The vocab DataFrame
    * stays persisted; its lineage embeds the chosen pairs as literals, so
    * a cache drop recomputes it deterministically with no re-collect. */
  private val bpeTrained =
    new graft.etl.Memo[(SparkSession, String), (Seq[(Long, String, Long)], DataFrame)]

  private def trainBpe(s: SparkSession, d: String): (Seq[(Long, String, Long)], DataFrame) =
    bpeTrained((s, d)) {
      val words = fanned(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .select(col("n"), concat(lit(" "),
          array_join(expr("filter(split(word, ''), x -> x <> '')"), "  "),
          lit(" ")).as("s"))
      // Per-step vocab = localCheckpoint (eager, leaf plan), the q105
      // Pregel discipline: the persist() variant rolls a k-deep replace
      // chain forward, so step k's argmax and merge plan against k nested
      // replaces — every step analyzes a strictly larger tree and
      // whole-stage codegen compiles a strictly larger, never-before-seen
      // method (isolated A/B: 4.55 s chained vs 3.2 s flat). Against a
      // leaf, all K steps share two plan shapes compiled once. Superseded
      // rounds are released deterministically (graft.etl.Ckpt.release);
      // the FINAL vocab handed to q169 is rebuilt below on full lineage.
      var vocab = words.localCheckpoint()
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
      var step = 1
      var exhausted = false
      while (step <= BpeSteps && !exhausted) {
        val best = vocab
          .select(col("n"), split(trim(col("s")), "  ").as("sy"))
          .filter(size(col("sy")) >= 2)
          .select(col("n"), explode(expr(
            "transform(sequence(0, size(sy) - 2), i -> concat(sy[i], ' ', sy[i+1]))")).as("pair"))
          .groupBy("pair").agg(sum("n").as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val pair = best(0).getString(0)
          merges += ((step.toLong, pair, best(0).getLong(1)))
          val next = vocab.withColumn("s", call_function("replace", col("s"),
              lit(" " + pair.replace(" ", "  ") + " "),
              lit(" " + pair.replace(" ", "") + " ")))
            .localCheckpoint() // eager: materialized here, parent now dead
          graft.etl.Ckpt.release(vocab)
          vocab = next
          step += 1
        }
      }
      // The memoized vocab must survive the bench's inter-query block
      // sweep (clearCache + persistent-RDD unpersist), which would strand
      // a checkpoint-backed plan unrecomputable — so rebuild it as
      // words + the K chosen replaces on FULL lineage (the merge pairs are
      // embedded as literals; a cache drop recomputes it deterministically
      // with no re-collect, exactly the previous contract), and release
      // the loop's last checkpoint.
      val finalVocab = merges.foldLeft(words) { (v, m) =>
        v.withColumn("s", call_function("replace", col("s"),
          lit(" " + m._2.replace(" ", "  ") + " "),
          lit(" " + m._2.replace(" ", "") + " ")))
      }.persist()
      graft.etl.Ckpt.release(vocab)
      (merges.toSeq, finalVocab)
    }

  // ── Unigram-LM (EM) tokenizer trainer — the OTHER mainstream subword
  //    tokenizer next to BPE (the public SentencePiece unigram model,
  //    Kudo 2018), on the same fold-once word-frequency relation. Hard-EM
  //    (Viterbi) variant, fully relational so DuckDB replays it bit-wise:
  //      seed   all word substrings, scored by corpus frequency; keep
  //             every single char (coverage guarantee) + top SeedMulti
  //             multi-char pieces; init integer micro-log-probs
  //             lp = round(1e6·ln(total/cnt)).
  //      E-step best segmentation per word over the full segmentation
  //             lattice: each cut-mask of a word is materialized as rows,
  //             pieces join the (broadcast) model, infeasible masks (any
  //             piece out of vocab) drop, argmin by (cost, n_pieces,
  //             mask) — a total deterministic order both engines share.
  //      M-step piece counts from the best segmentations (weighted by
  //             word frequency); re-normalize lp; zero-count pieces
  //             prune (every word's own best pieces survive, so
  //             feasibility is preserved inductively).
  //    Scale shape: everything runs on the VOCAB-sized word-frequency
  //    relation, never the corpus — the corpus is touched once by the
  //    initial word count (map-side + one hash-agg shuffle), exactly
  //    like trainBpe. The enumerated lattice (2^(L−1) masks per word,
  //    capped at MaxUnigramWordLen) is the oracle-replayable
  //    materialization of the Viterbi DP; a 100 TB deployment with long
  //    words swaps the E-step for a per-word DP against the broadcast
  //    model (map-side, same argmin semantics) — the train/apply
  //    dataflow and all shuffles stay identical.
  //    ln determinism: the ONE float op; both engines round the same
  //    (total, cnt) integer pair through IEEE-double ln at 1e-6
  //    granularity — the q171 sqrt idiom.

  /** (word, n, wl) corpus word-frequency relation for the unigram trainer. */
  private[graft] def unigramWords(s: SparkSession, d: String): DataFrame =
    fanned(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("wl", length(col("word")).cast("int"))
      .filter(col("wl") <= MaxUnigramWordLen)

  /** Best (Viterbi) segmentation per word under `model` (piece, lp):
    * returns the winning (word, n, mask, piece) rows — one row per piece
    * of each word's best segmentation. */
  private[graft] def viterbiSeg(words: DataFrame, model: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seg = words
      .withColumn("mask", explode(expr("sequence(0, shiftleft(1, wl - 1) - 1)")))
      .withColumn("cuts", expr(
        "concat(array(0), filter(sequence(1, wl), b -> b < wl AND (shiftright(mask, b - 1) % 2) = 1), array(wl))"))
      .withColumn("piece", explode(expr(
        "transform(sequence(0, size(cuts) - 2), j -> substring(word, cuts[j] + 1, cuts[j + 1] - cuts[j]))")))
      .select(col("word"), col("n"), col("mask"), col("piece"))
    val best = seg
      .join(broadcast(model.select("piece", "lp")), Seq("piece"), "left_outer")
      .groupBy("word", "mask")
      .agg(count(lit(1)).as("np"), count(col("lp")).as("nok"), sum("lp").as("cost"))
      .filter(col("nok") === col("np"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("word").orderBy(col("cost"), col("np"), col("mask"))))
      .filter(col("rn") === 1)
      .select("word", "mask")
    seg.join(best, Seq("word", "mask"))
  }

  /** M-step: piece counts from the best segmentations → re-normalized
    * integer micro-log-probs (piece, cnt, lp). */
  private def unigramMStep(segBest: DataFrame): DataFrame = {
    val cnts = segBest.groupBy("piece").agg(sum("n").cast("long").as("cnt"))
    cnts.crossJoin(broadcast(cnts.agg(sum("cnt").cast("long").as("tot"))))
      .withColumn("lp",
        round(lit(1e6) * log(col("tot").cast("double") / col("cnt"))).cast("long"))
      .select("piece", "cnt", "lp")
  }

  /** Trained unigram model rows (piece, cnt, lp) after EmSteps EM
    * iterations — memoized per (session, sf dir) like [[bpeTrained]];
    * vocab-sized driver state by design (the Lloyd-codebook pattern). */
  private val unigramTrained =
    new graft.etl.Memo[(SparkSession, String), Seq[(String, Long, Long)]]

  private def trainUnigram(s: SparkSession, d: String): Seq[(String, Long, Long)] =
    unigramTrained((s, d)) {
      val words = unigramWords(s, d).persist()
      words.count()
      var model = unigramSeedModel(words)
      for (_ <- 1 to EmSteps)
        model = unigramMStep(viterbiSeg(words, model))
      val rows = model.orderBy(col("cnt").desc, col("piece")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      words.unpersist()
      rows
    }

  /** Substring-frequency seed + initial micro-log-probs (piece, cnt, lp). */
  private[graft] def unigramSeedModel(words: DataFrame): DataFrame = {
    val subs = words
      .select(col("n"), explode(expr(
        "flatten(transform(sequence(1, wl), i -> transform(sequence(i, wl), j -> substring(word, i, j - i + 1))))"))
        .as("piece"))
      .groupBy("piece").agg(sum("n").cast("long").as("cnt"))
    val seed = subs.filter(length(col("piece")) === 1).unionAll(
      subs.filter(length(col("piece")) >= 2)
        .orderBy(col("cnt").desc, col("piece")).limit(SeedMulti))
    seed
      .crossJoin(broadcast(seed.agg(sum("cnt").cast("long").as("tot"))))
      .withColumn("lp",
        round(lit(1e6) * log(col("tot").cast("double") / col("cnt"))).cast("long"))
      .select("piece", "cnt", "lp")
  }

  /** Literal relation of the memoized model — what the encode query
    * broadcasts; lineage-free, immune to cache drops. */
  private[graft] def unigramModel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    trainUnigram(s, d).toDF("piece", "cnt", "lp")
  }

  /** DuckDB replay of the whole trainer: seed → v0 → (seg/cost/best/cnt/
    * v)×k — one generated CTE chain, bpeChainSql's pattern. `extraSeg`
    * appends one more E-pass (seg/cost/best k+1) under the final model,
    * which is what the ENCODE query aggregates. */
  private def unigramChainSql(k: Int, extraSeg: Boolean): String = {
    val sb = new StringBuilder
    sb.append(s"WITH t AS (${LlmPipeline.toksCte}),\n")
    sb.append("w AS (SELECT unnest(toks) AS word FROM t),\n")
    sb.append("wf AS MATERIALIZED (SELECT word, count(*) AS n, len(word) AS wl FROM w " +
      s"WHERE regexp_full_match(word, '[a-z]+') AND len(word) <= $MaxUnigramWordLen GROUP BY word),\n")
    sb.append("sub AS MATERIALIZED (SELECT piece, CAST(sum(n) AS BIGINT) AS cnt FROM (" +
      "SELECT n, unnest(flatten(list_transform(range(1, wl + 1), i -> " +
      "list_transform(range(i, wl + 1), j -> word[i:j])))) AS piece FROM wf) GROUP BY piece),\n")
    sb.append("seed AS MATERIALIZED (SELECT piece, cnt FROM sub WHERE len(piece) = 1 " +
      "UNION ALL SELECT piece, cnt FROM (SELECT piece, cnt FROM sub WHERE len(piece) >= 2 " +
      s"ORDER BY cnt DESC, piece LIMIT $SeedMulti)),\n")
    sb.append("v0 AS MATERIALIZED (SELECT piece, CAST(round(1e6 * ln(" +
      "CAST((SELECT sum(cnt) FROM seed) AS DOUBLE) / cnt)) AS BIGINT) AS lp FROM seed),\n")
    val last = k + (if (extraSeg) 1 else 0)
    for (i <- 1 to last) {
      val p = i - 1
      sb.append(s"seg$i AS MATERIALIZED (SELECT word, n, mask, " +
        "unnest(list_transform(range(1, len(cuts)), j -> word[cuts[j] + 1:cuts[j + 1]])) AS piece " +
        "FROM (SELECT word, n, mask, [0] || list_filter(range(1, wl), b -> ((mask >> (b - 1)) & 1) = 1) || [wl] AS cuts " +
        "FROM (SELECT word, n, wl, unnest(range(0, 1 << (wl - 1))) AS mask FROM wf))),\n")
      sb.append(s"cost$i AS MATERIALIZED (SELECT word, mask, count(*) AS np, CAST(sum(v.lp) AS BIGINT) AS cost " +
        s"FROM seg$i s LEFT JOIN v$p v USING (piece) GROUP BY word, mask HAVING count(v.lp) = count(*)),\n")
      sb.append(s"best$i AS MATERIALIZED (SELECT word, mask FROM (SELECT word, mask, " +
        s"row_number() OVER (PARTITION BY word ORDER BY cost, np, mask) AS rn FROM cost$i) WHERE rn = 1)" +
        (if (i == last && extraSeg) "\n" else ",\n"))
      if (i <= k) {
        sb.append(s"cnt$i AS MATERIALIZED (SELECT piece, CAST(sum(s.n) AS BIGINT) AS cnt " +
          s"FROM seg$i s JOIN best$i b USING (word, mask) GROUP BY piece),\n")
        sb.append(s"v$i AS MATERIALIZED (SELECT piece, CAST(round(1e6 * ln(" +
          s"CAST((SELECT sum(cnt) FROM cnt$i) AS DOUBLE) / cnt)) AS BIGINT) AS lp FROM cnt$i)" +
          (if (i == last) "\n" else ",\n"))
      }
    }
    sb.toString
  }

  val defs: Vector[Q] = Vector(

    // ── Incremental near-dedup: dedupe a NEW batch against the EXISTING
    //    corpus — the nightly-ingest variant of q35/q36 (which dedupe a
    //    corpus against itself). Spark path: MinHash band index per side,
    //    cross-corpus bucket join (Dedup.crossCandidates — the batch
    //    shuffles against an index the lake already holds; the corpus
    //    NEVER self-joins), exact-Jaccard verify, anti-join survivors.
    //    Oracle: all-pairs exact Jaccard between the halves — feasible at
    //    test scale, and independently proves the band index's recall on
    //    cross pairs, not just the arithmetic.
    //    RECALL BOUND (accepted exposure, same as q35/q36): the oracle sees
    //    every true pair; the Spark side only sees band-colliding ones. At
    //    the Dedup band parameters (b bands of r rows), a pair at Jaccard j
    //    misses every band with probability (1 - j^r)^b — at the dedup
    //    threshold j used here this is ≲1e-4, i.e. a *testdata
    //    regeneration* could in principle mint a pair the index misses and
    //    flip the hash gate. Observed duplicate pairs in the generated
    //    corpora are near-identical (j ≈ 1), where the miss probability is
    //    ~0, so the gate is stable on real regenerations; documenting the
    //    bound here is the sanctioned alternative to weakening the oracle
    //    to band-colliding pairs only (which would stop testing recall).
    Q("q161_incremental_dedup",
      s"""WITH t AS (${LlmPipeline.toksCte}),
         |sh AS (${LlmPipeline.shinglesCte}),
         |thr AS ($thrSql),
         |dup AS (SELECT DISTINCT b.doc_id AS nd
         |        FROM sh a JOIN sh b
         |          ON a.doc_id < (SELECT v FROM thr)
         |         AND b.doc_id >= (SELECT v FROM thr)
         |        WHERE round(1e6 * len(list_intersect(a.s, b.s))
         |                    / len(list_distinct(a.s || b.s))) / 1e6
         |              >= ${LlmPipeline.JaccardThreshold})
         |SELECT lang,
         |       CAST(count(*) AS BIGINT) AS n_new,
         |       CAST(sum(CASE WHEN doc_id IN (SELECT nd FROM dup)
         |                     THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
         |FROM documents WHERE doc_id >= (SELECT v FROM thr)
         |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val dd = docs(s, d)
      val thr = dd.agg(floor(max("doc_id") * 0.8).cast("long").as("thr"))
      val withThr = dd.crossJoin(broadcast(thr))
      val corpus = withThr.filter(col("doc_id") < col("thr")).drop("thr")
      val batch  = withThr.filter(col("doc_id") >= col("thr")).drop("thr")
      val cands = Dedup.crossCandidates(
        Dedup.minhashSignatures(batch), Dedup.minhashSignatures(corpus))
      val dupNew = Dedup.verifiedJaccard(cands, Dedup.shingleSets(dd))
        .filter(col("jaccard") >= LlmPipeline.JaccardThreshold)
        .select(col("doc_a").as("doc_id")).distinct()
      batch
        .join(dupNew.withColumn("is_dup", lit(1)), Seq("doc_id"), "left_outer")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_new"),
          sum(when(col("is_dup").isNull, 1).otherwise(0)).cast("long").as("n_kept"))
        .orderBy("lang")
    },

    // ── One BPE merge step: corpus-wide adjacent-symbol pair frequencies,
    //    top 20 — the inner loop of byte-pair-encoding tokenizer training
    //    (find the most frequent adjacent pair, merge, repeat) expressed as
    //    a map-side slide + ONE hash-agg shuffle on the pair. At 100 TB
    //    the pair relation is partial-aggregated map-side (counts are
    //    associative), so the shuffle carries |vocab|² keys at most, not
    //    the corpus. Total order (n DESC, pair ASC) makes the top-20 cut
    //    deterministic on both engines.
    Q("q162_bpe_pair_step",
      s"""WITH t AS (${LlmPipeline.toksCte}),
         |p AS (SELECT unnest(list_transform(range(1, len(toks)),
         |                                   i -> toks[i] || ' ' || toks[i+1])) AS pair
         |      FROM t WHERE len(toks) >= 2)
         |SELECT pair, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY pair
         |ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (s, d) =>
      fanned(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    // ── Cross-document repeated-n-gram measurement: the boilerplate
    //    detector (headers, licence blocks, templated spans repeat across
    //    documents; original prose does not). Per-doc DISTINCT word-4-grams
    //    → corpus-wide document frequency (one shuffle on the gram) →
    //    per-language share of grams that recur in ≥2 documents. Exact
    //    integer numerators/denominators; the division is the only float.
    //    At 100 TB the gram relation partial-aggregates map-side and the
    //    join back is a plain hash join on the gram — nothing quadratic,
    //    no driver state.
    Q("q163_boilerplate_ngrams",
      s"""WITH t AS (${LlmPipeline.toksCte}),
         |g AS (SELECT doc_id, lang,
         |             unnest(list_distinct(list_transform(range(1, len(toks) - 2),
         |                    i -> array_to_string(toks[i:i+3], ' ')))) AS gram
         |      FROM t WHERE len(toks) >= 4),
         |df AS (SELECT gram, count(*) AS d FROM g GROUP BY 1),
         |j AS (SELECT g.lang, CASE WHEN df.d >= 2 THEN 1 ELSE 0 END AS rep
         |      FROM g JOIN df USING (gram))
         |SELECT lang,
         |       CAST(count(*) AS BIGINT) AS n_grams,
         |       CAST(sum(rep) AS BIGINT) AS n_repeated,
         |       round(1e6 * sum(rep) / count(*)) / 1e6 AS repeated_ratio
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val g = fanned(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .filter(size(col("toks")) >= 4)
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(expr(
            """transform(sequence(0, size(toks) - 4),
              |          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3]))"""
              .stripMargin))).as("gram"))
      // grams are distinct per doc, so count(*) per gram IS the document
      // frequency — no countDistinct shuffle needed. NOTE (r19): a
      // fold-to-(lang, gram)-counts + checkpoint variant (the q191 idiom)
      // was measured 8.0 → 13.3 s at 100× and REJECTED — `g` feeds both
      // the aggregate and the join through the SAME hash(gram) exchange,
      // which Spark already reuses (one corpus pass), while 4-grams are
      // nearly all distinct so materializing their counts costs more than
      // the reuse saves.
      val dfreq = g.groupBy("gram").agg(count(lit(1)).as("d"))
      g.join(dfreq, "gram")
        .select(col("lang"), when(col("d") >= 2, 1).otherwise(0).as("rep"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_grams"),
          sum("rep").cast("long").as("n_repeated"),
          (round(lit(1e6) * sum("rep") / count(lit(1))) / 1e6).as("repeated_ratio"))
        .orderBy("lang")
    },

    // ── Full BPE training loop (K = 10 merge steps) — q162's single pair
    //    count promoted to the real tokenizer-training inner loop
    //    (find most-frequent adjacent pair → merge it everywhere →
    //    recount), the standard BPE trainer shape.
    //
    //    Scale design: the corpus is touched EXACTLY ONCE — one shuffle
    //    folds it into the word-frequency relation (word, n, symbol
    //    string), and all K iterations run on that vocab relation alone
    //    (at 100 TB the word-count table is ~millions of rows, so
    //    iteration cost is independent of corpus size). Each iteration is
    //    one map-side pair slide + ONE hash-agg shuffle (|symbols|² keys
    //    max) + a 1-row argmax action; the only driver state is the K
    //    (pair, count) merge rows. The vocab relation is persisted and
    //    rolled forward iteration-to-iteration (persist → materialize →
    //    unpersist parent, the PageRank lineage discipline).
    //
    //    Merge application uses built-in string `replace` (codegen'd, no
    //    UDF) on a symbol-string representation chosen so non-overlapping
    //    left-to-right replace IS greedy BPE merging: symbols joined by
    //    TWO spaces, padded with ONE space each side. The pair (a,b)
    //    appears as ' a  b ' — each replacement consumes one space of
    //    each flanking separator and its ' ab ' output restores both, so
    //    back-to-back pairs ([a,b,a,b] → [ab,ab]) merge in one pass and
    //    overlapping triples ([a,a,a] → [aa,a]) resolve left-greedy,
    //    identically in Spark and DuckDB. Restricted to lowercase-alpha
    //    words so the char split is engine-identical on any corpus.
    //    Total order (n DESC, pair ASC) at every argmax keeps all K
    //    steps deterministic; all counts are exact integers.
    Q("q164_bpe_train_loop", bpeOracleSql(BpeSteps)) { (s, d) =>
      import s.implicits._
      trainBpe(s, d)._1.toDF("step", "pair", "n").orderBy("step")
    },

    // ── BPE tokenizer APPLICATION — the other half of the train→apply
    //    loop: the q164-trained merge table applied to the corpus, then
    //    the resulting subword vocabulary measured (top-20 subwords by
    //    corpus-weighted occurrences). The "apply" is already latent in
    //    the trainer's final vocab relation (all K merges replayed over
    //    the word-frequency table), so encoding the corpus costs ONE
    //    aggregate over that vocab-sized relation — at 100 TB this is
    //    the tokenize-everything pass: the merge table is a broadcast-
    //    sized artifact, application is map-side string replace, and the
    //    histogram shuffle carries subword-vocabulary keys, never corpus
    //    rows. Shares the memoized training pass with q164 (train once,
    //    apply everywhere). `occurrences` weights by corpus frequency;
    //    `vocab_occ` counts occurrences across distinct word forms.
    Q("q169_bpe_encode",
      bpeChainSql(BpeSteps, withFinalVocab = true) +
        s"""SELECT sym, CAST(sum(n) AS BIGINT) AS occurrences,
           |       CAST(count(*) AS BIGINT) AS vocab_occ
           |FROM (SELECT n, unnest(string_split(trim(s), '  ')) AS sym FROM v$BpeSteps)
           |GROUP BY sym ORDER BY occurrences DESC, sym LIMIT 20""".stripMargin) { (s, d) =>
      trainBpe(s, d)._2
        .select(col("n"), explode(split(trim(col("s")), "  ")).as("sym"))
        .groupBy("sym")
        .agg(sum("n").cast("long").as("occurrences"),
          count(lit(1)).cast("long").as("vocab_occ"))
        .orderBy(col("occurrences").desc, col("sym"))
        .limit(20)
    },

    // ── Temperature-scaled domain mixture (α = 0.5) — the data-mixing
    //    step that turns raw per-source counts into a training mixture:
    //    sampling weight ∝ n_i^α flattens the source distribution
    //    (α = 1 keeps it, α = 0 makes it uniform), the standard knob for
    //    up-weighting small high-quality sources. Per-source acceptance
    //    rates land as exact ppm integers (per-source sqrt micro-rounded
    //    BEFORE the sum, so the tiny-relation double reduction has a
    //    fixed value in both engines regardless of row order), and
    //    per-doc acceptance is the q98 md5-uniform integer compare —
    //    deterministic, coordination-free, identical at any parallelism.
    //    Scale shape: one dim-sized aggregate (sources), one broadcast
    //    join of rates onto the corpus, one map-side filter — the corpus
    //    is touched once and never shuffled.
    Q("q171_temperature_mixture",
      """WITH s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |           FROM documents GROUP BY 1),
        |w AS (SELECT lang, n,
        |             CAST(round(1e6 * sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS wi
        |      FROM s),
        |tot AS (SELECT CAST(sum(wi) AS BIGINT) AS sw,
        |               CAST(sum(n) AS BIGINT) AS total FROM w),
        |r AS (SELECT lang, n,
        |             least(CAST(1000000 AS BIGINT),
        |                   CAST(floor(1e6 * (CAST((total // 2) * wi AS DOUBLE)
        |                                     / CAST(sw * n AS DOUBLE))) AS BIGINT)) AS rate_ppm
        |      FROM w CROSS JOIN tot),
        |d AS (SELECT doc_id, lang,
        |             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u
        |      FROM documents)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       max(r.rate_ppm) AS rate_ppm,
        |       CAST(count(*) FILTER (WHERE u * 1000000 < rate_ppm * 4294967296)
        |            AS BIGINT) AS n_sampled
        |FROM d JOIN r ON r.lang = d.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (s, d) =>
      val bySource = docs(s, d).groupBy("lang").agg(count(lit(1)).as("n"))
      val w = bySource.withColumn("wi",
        round(lit(1e6) * sqrt(col("n").cast("double"))).cast("long"))
      val tot = w.agg(sum("wi").cast("long").as("sw"),
        sum("n").cast("long").as("total"))
      val rates = w.crossJoin(tot)
        .withColumn("rate_ppm", least(lit(1000000L),
          floor(lit(1e6) * ((expr("total div 2") * col("wi")).cast("double")
            / (col("sw") * col("n")).cast("double"))).cast("long")))
        .select(col("lang"), col("rate_ppm"))
      docs(s, d)
        .select(col("doc_id"), col("lang"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long").as("u"))
        .join(broadcast(rates), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          max("rate_ppm").as("rate_ppm"),
          count(when(col("u") * lit(1000000L) < col("rate_ppm") * lit(4294967296L), 1))
            .as("n_sampled"))
        .orderBy("lang")
    },

    // ── Split-leakage audit: near-dup pairs CROSSING the deterministic
    //    train/val/test split (q68's md5 buckets) — the contamination a
    //    pipeline that splits before deduping ships silently: a test doc
    //    whose near-twin sits in train inflates every eval. Composes two
    //    existing artifacts — the checkpointed LSH pair relation
    //    (q35/q36/q53's, built once per session) and the split rule —
    //    into a per-split-combo pair count; the `train|test` and
    //    `train|val` rows ARE the leak report. Scale: the pair relation
    //    is duplicate-sized (≪ corpus), split assignment is a map-side
    //    md5, and the two doc_id joins are plain hash joins. Oracle:
    //    all-pairs exact Jaccard + the same split replay (the q35 recall
    //    bound applies, documented at q161).
    Q("q172_split_leakage",
      s"""${LlmPipeline.nearDupPairsSql},
         |sp AS (SELECT doc_id,
         |              CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |                   ELSE 'test' END AS split
         |       FROM (SELECT doc_id,
         |                    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS b
         |             FROM documents))
         |SELECT least(sa.split, sb.split) AS split_a,
         |       greatest(sa.split, sb.split) AS split_b,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       max(jaccard) AS max_jaccard
         |FROM p JOIN sp sa ON sa.doc_id = p.doc_a
         |       JOIN sp sb ON sb.doc_id = p.doc_b
         |WHERE p.jaccard >= ${LlmPipeline.JaccardThreshold}
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val sp = docs(s, d).select(col("doc_id"),
        when(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 100 < 80, "train")
          .when(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 100 < 90, "val")
          .otherwise("test").as("split"))
      Dedup.nearDupPairsCkpt(docs(s, d), LlmPipeline.JaccardThreshold)
        .join(sp.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
        .join(sp.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"), col("jaccard"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_pairs"), max("jaccard").as("max_jaccard"))
        .orderBy("split_a", "split_b")
    },

    // ── Bigram-LM perplexity filter — q92's unigram surprisal upgraded
    //    to the real LM-style quality gate: fit the corpus's own bigram
    //    model with add-one smoothing, P(w2|w1) = (c(w1w2)+1)/(c(w1·)+V),
    //    score each doc by mean bigram surprisal, surface the top-20
    //    most surprising (the worst LM fit — boilerplate soup, wrong-
    //    language fragments, mojibake). Determinism is the q92 scheme:
    //    each bigram's −ln P is micro-rounded to a BIGINT BEFORE the
    //    per-doc sum, so the reduction is exact-integer and order-free;
    //    one IEEE divide + round at the end. Scale shape: the model
    //    relations are vocab-/bigram-vocab-sized (never corpus-sized),
    //    the score join is a hash join on the bigram key, and the corpus
    //    is touched twice (count pass, score pass) — the standard
    //    two-pass LM filter layout.
    Q("q173_bigram_perplexity",
      s"""WITH $surprisalCtes
         |SELECT doc_id, n_bigrams,
         |       round(CAST(ssum AS DOUBLE) / n_bigrams) / 1e6 AS avg_surprisal
         |FROM d ORDER BY avg_surprisal DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      bigramSurprisalCkpt(docs(s, d))
        .select(col("doc_id"), col("n_bigrams"),
          (round(col("ssum").cast("double") / col("n_bigrams")) / 1e6).as("avg_surprisal"))
        .orderBy(col("avg_surprisal").desc, col("doc_id"))
        .limit(20)
    },

    // ── EXACT GLOBAL sequence packing (concatenate-and-chunk) — the
    //    final assembly step of a pre-training pipeline: documents laid
    //    out in one deterministic order (doc_id), token counts
    //    accumulate, the stream is cut into fixed 2048-token training
    //    sequences; each document is attributed to the bin where it
    //    STARTS. q85 is the bucketed production packer — 32 independent
    //    hash buckets, paying per-bucket (not global) packing density
    //    for parallelism. This query removes that trade: the global
    //    running sum is computed as a two-phase distributed prefix sum —
    //    per-bucket subtotals (hash agg on doc_id div 1024), exact
    //    bucket offsets via a window over the BUCKET relation
    //    (n_docs/1024 rows — bounded, broadcast back), then a
    //    within-bucket cumulative sum partitioned by bucket (parallel
    //    across buckets). The bucket key is monotone in doc_id, so
    //    bucket-offset + within-bucket prefix equals the single global
    //    stream exactly — bit-identical to the oracle's one-window
    //    replay, without the one-task `sum() OVER (ORDER BY doc_id)`
    //    that a naive global pack executes. 100 TB: every shuffle rides
    //    the coarse bucket key; no task holds more than one ~1k-doc
    //    bucket.
    Q("q177_exact_global_packing",
      s"""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS tc FROM documents),
         |c AS (SELECT doc_id, tc,
         |             COALESCE(sum(tc) OVER (ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |      FROM t)
         |SELECT CAST(off // $PackBudget AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(tc) AS BIGINT) AS total_tokens,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tc = fanned(s, d).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("tc"))
        .withColumn("bkt", expr("doc_id div 1024"))
      val offsets = tc.groupBy("bkt").agg(sum("tc").as("btot"))
        .withColumn("boff", coalesce(
          sum("btot").over(Window.orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bkt", "boff")
      tc.join(broadcast(offsets), "bkt")
        .withColumn("woff", coalesce(
          sum("tc").over(Window.partitionBy("bkt").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("doc_id"), col("tc"),
          expr(s"(boff + woff) div $PackBudget").as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum("tc").cast("long").as("total_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("bin")
    },

    // ── Chunk-level (sub-document) exact dedup — the boilerplate-removal
    //    stage document-level dedup cannot express: repeated 64-token
    //    blocks (headers, navboxes, license stubs) recur across otherwise
    //    distinct documents, and the pipeline drops every repeat while
    //    keeping each document's unique remainder. Chunks are q84's
    //    non-overlapping 64-token windows; identity is md5 of the
    //    re-joined chunk text; the keep-first policy is the global
    //    (doc_id, chunk_idx) order — one row_number per fingerprint, a
    //    single shuffle on the (high-cardinality) fingerprint key, so at
    //    100 TB this is embarrassingly parallel and never compares chunk
    //    text pairwise. Output = per-language removal accounting, the
    //    number the curation dashboard tracks crawl over crawl.
    Q("q181_chunk_dedup",
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |ch AS (SELECT doc_id, lang, CAST((st - 1) // 64 AS BIGINT) AS ci,
        |              array_to_string(toks[st:st+63], ' ') AS ctext,
        |              len(toks[st:st+63]) AS clen
        |       FROM (SELECT doc_id, lang, toks,
        |                    unnest(range(1, len(toks) + 1, 64)) AS st
        |             FROM t WHERE len(toks) >= 1)),
        |r AS (SELECT lang, clen,
        |             row_number() OVER (PARTITION BY md5(ctext)
        |                                ORDER BY doc_id, ci) AS rn
        |      FROM ch)
        |SELECT lang,
        |       CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
        |       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dups,
        |       CAST(coalesce(sum(clen) FILTER (WHERE rn > 1), 0) AS BIGINT) AS tokens_removed
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ch = fanned(s, d)
        .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, size(toks), 64), st -> struct(CAST((st - 1) div 64 AS BIGINT) AS ci, slice(toks, st, 64) AS c))")).as("e"))
        .select(col("doc_id"), col("lang"), col("e.ci").as("ci"),
          md5(array_join(col("e.c"), " ")).as("fp"),
          size(col("e.c")).cast("long").as("clen"))
      ch.withColumn("rn", row_number().over(
          Window.partitionBy("fp").orderBy("doc_id", "ci")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_chunks"),
          count(when(col("rn") === 1, 1)).cast("long").as("n_kept"),
          count(when(col("rn") > 1, 1)).cast("long").as("n_dups"),
          coalesce(sum(when(col("rn") > 1, col("clen"))), lit(0L))
            .cast("long").as("tokens_removed"))
        .orderBy("lang")
    },

    // ── Variable-length repeated-substring dedup (ExactSubstr): every
    //    MAXIMAL token span of length ≥ MinRepeatTokens whose windows all
    //    recur corpus-wide — the boilerplate q181's fixed aligned chunks
    //    cannot see (a repeat straddling a chunk boundary, or at a
    //    different alignment, never produces equal chunks). Spark path is
    //    the two-phase rolling-anchor pipeline in Dedup.repeatedSpans
    //    (O(tokens) window_hashes kernel → occurrence count → md5 verify
    //    of candidates only → gaps-and-islands). The oracle recomputes
    //    from scratch with per-position md5 windows — so the rolling
    //    anchor phase's recall-1 claim, the exact-verify phase, and the
    //    span merge are all independently checked, and the kernel's hash
    //    constants stay out of the contract.
    Q("q185_repeated_substring_spans",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |w AS (SELECT doc_id, p,
         |             md5(array_to_string(toks[p:p+$MinRepeatTokens-1], ' ')) AS fp
         |      FROM t, unnest(range(1, len(toks) - $MinRepeatTokens + 2)) AS u(p)
         |      WHERE len(toks) >= $MinRepeatTokens),
         |r AS (SELECT doc_id, p FROM (
         |        SELECT doc_id, p, count(*) OVER (PARTITION BY fp) AS c FROM w)
         |      WHERE c >= 2),
         |g AS (SELECT doc_id, p,
         |             p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
         |      FROM r),
         |sp AS (SELECT doc_id, min(p) AS s,
         |              max(p) - min(p) + $MinRepeatTokens AS span_len
         |       FROM g GROUP BY doc_id, grp)
         |SELECT sp.doc_id, CAST(s AS BIGINT) AS span_start,
         |       CAST(span_len AS BIGINT) AS span_len,
         |       md5(array_to_string(t.toks[s:s+span_len-1], ' ')) AS span_md5
         |FROM sp JOIN t ON sp.doc_id = t.doc_id
         |ORDER BY sp.doc_id, span_start""".stripMargin) { (s, d) =>
      graft.llm.Dedup.repeatedSpans(docs(s, d), MinRepeatTokens)
        .orderBy("doc_id", "span_start")
    },

    // ── Unigram-LM tokenizer TRAINING (see the trainer comment above):
    //    the final EM model — every surviving piece with its Viterbi
    //    count and integer micro-log-prob. The oracle replays the whole
    //    seed→init→(E→M)^k chain from scratch, so the lattice
    //    enumeration, the (cost, np, mask) argmin order, the pruning,
    //    and the re-normalization are all independently verified.
    Q("q186_unigram_train",
      unigramChainSql(EmSteps, extraSeg = false) +
        s"""SELECT piece, cnt, lp FROM cnt$EmSteps JOIN v$EmSteps USING (piece)
           |ORDER BY cnt DESC, piece""".stripMargin) { (s, d) =>
      unigramModel(s, d).orderBy(col("cnt").desc, col("piece"))
    },

    // ── Unigram-LM tokenizer APPLICATION: the q186 model segmenting the
    //    corpus (one more Viterbi pass under the final lp), measured as
    //    the top-20 subword histogram — q169's encode surface for the
    //    OTHER tokenizer family. Shares the memoized training with q186
    //    (train once, apply everywhere); at 100 TB the model is a
    //    broadcast artifact and encoding is map-side against it, with
    //    the histogram shuffle carrying vocabulary keys only.
    Q("q187_unigram_encode",
      unigramChainSql(EmSteps, extraSeg = true) +
        s"""SELECT piece, CAST(sum(s.n) AS BIGINT) AS occurrences,
           |       CAST(count(DISTINCT s.word) AS BIGINT) AS vocab_occ
           |FROM seg${EmSteps + 1} s JOIN best${EmSteps + 1} b USING (word, mask)
           |GROUP BY piece ORDER BY occurrences DESC, piece LIMIT 20""".stripMargin) { (s, d) =>
      viterbiSeg(unigramWords(s, d), unigramModel(s, d))
        .groupBy("piece")
        .agg(sum("n").cast("long").as("occurrences"),
          countDistinct("word").as("vocab_occ"))
        .orderBy(col("occurrences").desc, col("piece"))
        .limit(20)
    },

    // ── Tokenizer FERTILITY per language — the tokenizer-health metric
    //    (pieces emitted per word): a language whose fertility runs hot
    //    pays more sequence length per sentence, the standard signal for
    //    rebalancing tokenizer training data. Word→piece-count comes
    //    from the SAME memoized q164 training pass (the word is
    //    recovered from the symbol string by stripping its separator
    //    spaces); per-language word mass is one corpus aggregate; the
    //    vocab side is vocabulary-sized and broadcast. Exact integers
    //    end-to-end — fertility lands as floor ppm.
    Q("q208_bpe_fertility",
      bpeChainSql(BpeSteps, withFinalVocab = true) +
        s""", wl AS (SELECT lang, unnest(toks) AS word FROM t),
           |wl2 AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt
           |        FROM wl WHERE regexp_full_match(word, '[a-z]+') GROUP BY 1, 2),
           |pw AS (SELECT replace(s, ' ', '') AS word,
           |              CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS pieces
           |       FROM v$BpeSteps)
           |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_words,
           |       CAST(sum(cnt * pieces) AS BIGINT) AS n_pieces,
           |       CAST((1000000 * sum(cnt * pieces)) // sum(cnt) AS BIGINT) AS fertility_ppm
           |FROM wl2 JOIN pw USING (word)
           |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val vocab = trainBpe(s, d)._2
      val pw = vocab.select(
        translate(col("s"), " ", "").as("word"),
        size(split(trim(col("s")), "  ")).cast("long").as("pieces"))
      val wl = fanned(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      wl.join(broadcast(pw), "word")
        .groupBy("lang")
        .agg(sum("cnt").cast("long").as("n_words"),
          sum(col("cnt") * col("pieces")).cast("long").as("n_pieces"))
        .select(col("lang"), col("n_words"), col("n_pieces"),
          expr("(1000000 * n_pieces) div n_words").as("fertility_ppm"))
        .orderBy("lang")
    }
  )
}
