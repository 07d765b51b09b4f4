package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-level deduplication for LLM training-data pipelines, designed
  * around the 100 TB contract: candidate generation is always a *bucketed
  * equality join* (shuffle on a band/bucket key), never an all-pairs
  * comparison. The only quadratic work happens inside a bucket, whose size
  * is bounded by the banding parameters.
  *
  * Three tiers, in increasing fuzziness:
  *   1. [[exactDedup]] — md5-fingerprint hash-groupBy (exact content dup).
  *   2. [[nearDupPairs]] — MinHash + LSH banding over word-shingle sets,
  *      candidates verified with exact Jaccard (so false positives from
  *      banding never reach the output; recall is governed by (bands, rows)).
  *   3. [[simhashPairs]] — Charikar SimHash + pigeonhole banding, candidates
  *      verified with exact Hamming distance.
  *
  * Scale notes:
  *   - MinHash params below are H=64 hashes, 32 bands × 2 rows: a pair with
  *     Jaccard J collides in ≥1 band with p = 1-(1-J²)³². At the verify
  *     threshold J≥0.5 p≈0.9998, at J≥0.9 p≈1-3e-23; the corpus's planted
  *     near-dups sit at J≥0.9 (all other pairs <0.07), so recall is exactly
  *     1 here. r=2 admits more random candidates than r=4, but candidates
  *     only feed the exact-Jaccard verify, and the narrower signature
  *     halves both the aggregate width and its generated code. At 100 TB
  *     you tune (H, b, r) to the target threshold exactly the same way.
  *   - Signatures are computed as one xxhash64 per shingle plus H affine
  *     re-hashes folded into a single hash-aggregate — codegen'd, no UDF,
  *     map-side partial aggregation, one shuffle on doc_id.
  *   - A pathological band value shared by k docs produces a k² bucket; real
  *     pipelines cap bucket size. Buckets here are grouped on the *full
  *     4-long signature slice* (not a re-hash), so only genuinely identical
  *     slices collide.
  */
object Dedup {

  /** Exact-content dedup: keep the minimum doc_id per md5 fingerprint.
    * One hash-aggregate shuffle on the fingerprint — the canonical
    * "exact dedup at any scale" plan (fingerprints are uniformly
    * distributed, so no skew). */
  def exactDedup(docs: DataFrame): DataFrame = {
    docs.withColumn("fp", TextOps.fingerprint(col("text")))
      .groupBy("fp")
      .agg(
        min("doc_id").as("doc_id"),
        // min, not first: rows in a group share identical text but first()
        // is non-deterministic if two doc_ids ever disagree on lang
        min("lang").as("lang"),
        count(lit(1)).as("n_copies"))
  }

  val NumHashes = 64
  val Bands     = 32
  val RowsPerBand: Int = NumHashes / Bands

  /** (doc_id, sig) MinHash signatures: sig[k] = min over shingles of
    * (a_k·xxhash64(shingle) + b_k) mod p.
    *
    * Plan shape: explode shingles → one xxhash64 per shingle → ONE
    * [[graft.functions.MinHashAgg]] sketch aggregate (map-side partial
    * aggregation, one shuffle on doc_id). Two earlier formulations lost:
    * nested higher-order lambdas (interpreted, ~50× slower) and
    * `NumHashes` separate `min` columns (whole-stage codegen emits a huge
    * update method whose JIT compilation is nondeterministically starved
    * under compiler-queue pressure — 3 s vs 100+ s run-to-run). */
  def minhashSignatures(docs: DataFrame, shingleN: Int = 3): DataFrame = {
    require(shingleN == 3, "shingle_hashes is registered for n=3")
    fanOut(docs)
      .select(col("doc_id"),
        explode(graft.functions.ShingleHashes.of(col("text"))).as("h"))
      .groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.sig(col("h")).as("sig"))
  }

  /** Fan a document relation out across the cluster before heavy map-side
    * work (adaptive — an already-parallel input passes through unchanged;
    * see [[graft.etl.FanOut]]). */
  private def fanOut(docs: DataFrame): DataFrame =
    graft.etl.FanOut.fanOut(docs, col("doc_id"))

  /** (doc_id, shingles) distinct HASHED shingle sets (xxhash64 longs) for
    * exact verification. Hashing before the pair join shrinks the relation
    * ~5× (fixed 8-byte elements vs raw n-gram strings) and turns the
    * intersect/union into long comparisons — the shingle-set relation is
    * broadcast to every verify task, so its size is a per-task
    * deserialization tax. Jaccard over hashed sets equals Jaccard over the
    * string sets up to 64-bit collisions (~|S|²·N/2⁶⁴ ≈ 1e-9 here). */
  def shingleSets(docs: DataFrame, shingleN: Int = 3): DataFrame = {
    require(shingleN == 3, "shingle_hashes is registered for n=3")
    fanOut(docs)
      .select(col("doc_id"), graft.functions.ShingleHashes.of(col("text")).as("shingles"))
      .filter(size(col("shingles")) > 0)
  }

  /** LSH candidate pairs: explode each signature into `Bands` slices, bucket
    * on (band index, slice), and emit each bucket's intra-pairs once
    * (a < b). The join key is the slice array itself — Spark hashes array
    * values natively for the shuffle, no extra band-hash needed. */
  def candidatePairs(sigs: DataFrame): DataFrame = {
    val bands = bandsOf(sigs)
    bands.alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") &&
        col("a.slice") === col("b.slice") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Signature → exploded (doc_id, band, slice) relation — the LSH band
    * index both the self-join ([[candidatePairs]]) and the cross-corpus
    * join ([[crossCandidates]]) bucket on; also the relation the streaming
    * ingest dedup ([[graft.streaming.StreamingDedup]]) persists as its
    * corpus state, so each arriving micro-batch joins a PRE-EXPLODED index
    * instead of re-deriving bands from corpus signatures per batch. */
  private[graft] def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(
        col("doc_id"),
        posexplode(array((0 until Bands).map(b =>
          slice(col("sig"), b * RowsPerBand + 1, RowsPerBand)): _*)))
      .toDF("doc_id", "band", "slice")

  /** LSH candidates BETWEEN two disjoint corpora — a NEW batch bucket-
    * joined against the EXISTING corpus's band index, never corpus ×
    * corpus. This is the incremental-ingest shape at scale: the corpus
    * side is a precomputed lake relation that only ever grows by appending
    * the accepted batch's bands, so deduping a day's crawl against a
    * 100 TB corpus shuffles the BATCH (small) against a band-bucketed
    * index join, not the corpus against itself. Returns (doc_a = new,
    * doc_b = corpus) candidate pairs for [[verifiedJaccard]]. */
  def crossCandidates(newSigs: DataFrame, corpusSigs: DataFrame): DataFrame =
    bandsOf(newSigs).alias("a")
      .join(bandsOf(corpusSigs).alias("b"),
        col("a.band") === col("b.band") && col("a.slice") === col("b.slice"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** Exact word-`shingleN`-gram Jaccard for a pair relation (doc_a, doc_b),
    * joined back to the shingle sets; rounded to 6dp identically to the
    * oracle (integer set sizes → one IEEE divide → one round). */
  def verifiedJaccard(pairs: DataFrame, shingleSets: DataFrame): DataFrame =
    pairs
      .join(shingleSets.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(shingleSets.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      .withColumn("jaccard",
        round(lit(1e6) * size(array_intersect(col("sa"), col("sb")))
          / size(array_union(col("sa"), col("sb")))) / 1e6)
      .select("doc_a", "doc_b", "jaccard")

  /** (doc_id, shingles) hashed once, shared by the signature AND set
    * branches of the near-dup pipeline: [[minhashSignatures]] and
    * [[shingleSets]] each rerun the fan-out + shingle-hash map pass (the
    * pipeline's dominant per-row work) when called separately; deriving
    * both from one materialized relation halves it. */
  private def hashedShingles(docs: DataFrame, shingleN: Int): DataFrame = {
    require(shingleN == 3, "shingle_hashes is registered for n=3")
    fanOut(docs)
      .select(col("doc_id"), graft.functions.ShingleHashes.of(col("text")).as("shingles"))
  }

  private def sigsFrom(hashed: DataFrame): DataFrame =
    hashed.select(col("doc_id"), explode(col("shingles")).as("h"))
      .groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.sig(col("h")).as("sig"))

  private def setsFrom(hashed: DataFrame): DataFrame =
    hashed.filter(size(col("shingles")) > 0)

  /** The full near-dup pipeline: MinHash → LSH buckets → exact-Jaccard
    * verify at `threshold`. Output is engine-independent (candidates are
    * a superset of the ≥threshold pairs at these params; the verify filter
    * makes the result exact).
    *
    * The hashed-shingle relation is materialized eagerly (a local
    * checkpoint): the downstream joins read it from several racing
    * broadcast-build threads, and planning against an unmaterialized cache
    * is a race that occasionally re-derives the whole pipeline serially
    * inside a broadcast job (observed as nondeterministic 10× swings).
    * Its blocks belong to the caller: `Ckpt.release` on the result frees
    * them once it has been consumed, as [[nearDupPairsCkpt]] does. The band
    * self-join's duplicate read of the signature aggregate is handled by
    * Spark's ReusedExchange (identical subplans inside one query reuse
    * one shuffle). At 100 TB this is the stage a production pipeline
    * checkpoints to the lake. */
  def nearDupPairs(docs: DataFrame, threshold: Double, shingleN: Int = 3): DataFrame = {
    val hashed = hashedShingles(docs, shingleN).localCheckpoint()
    verifiedJaccard(candidatePairs(sigsFrom(hashed)), setsFrom(hashed))
      .filter(col("jaccard") >= threshold)
  }

  // ── Shared pair and label relations ──────────────────────────────────
  //
  // The MinHash-LSH pipeline is the expensive stage of the dedup family;
  // everything downstream (the pair report, near-dedup, connected-component
  // clustering, the split-leakage audit) consumes the SAME small pair
  // relation. A production pipeline at 100 TB checkpoints that relation to
  // the lake and fans the consumers out from it; re-deriving the
  // signatures per consumer would multiply the dominant cost by the number
  // of consumers. Both relations below are graft.etl.Artifact builds: once
  // per (corpus, params) and JVM, then read back from parquet.

  /** [[nearDupPairs]] built once per (corpus, threshold, shingleN). */
  def nearDupPairsCkpt(docs: DataFrame, threshold: Double, shingleN: Int = 3): DataFrame =
    graft.etl.Artifact("dedup-pairs", threshold, shingleN)(docs)(
      nearDupPairs(_, threshold, shingleN))

  /** (doc_id, component) transitive-cluster labels over the thresholded
    * pair relation, built once per (corpus, threshold, shingleN) like the
    * pair relation itself: the three cluster consumers (q53 survivors,
    * q182 histogram, q192 quality survivorship) would otherwise each
    * re-run the O(log n) star contraction over an IDENTICAL pair input.
    * In production the label relation is a maintained lake table
    * refreshed alongside the pair relation. */
  def ccLabelsCkpt(docs: DataFrame, threshold: Double, shingleN: Int = 3): DataFrame =
    graft.etl.Artifact("dedup-cc", threshold, shingleN)(docs) { in =>
      connectedComponentsLogN(
        nearDupPairsCkpt(in, threshold, shingleN).filter(col("jaccard") >= threshold))
    }

  /** Near-dedup given a precomputed pair relation (doc_a, doc_b, …): drop
    * every document that is the *larger* doc_id of some near-dup pair
    * (keep-lowest-id policy — deterministic, and exactly replicable in the
    * oracle's SQL; [[connectedComponents]] is the transitive-cluster
    * upgrade). */
  def nearDedup(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val dominated = pairs.select(col("doc_b").as("doc_id")).distinct()
    docs.join(dominated, Seq("doc_id"), "left_anti")
  }

  /** Near-dedup computing its own pairs (tests / one-shot callers; query
    * paths share the built relation via [[nearDupPairsCkpt]]). */
  def nearDedup(docs: DataFrame, threshold: Double): DataFrame =
    nearDedup(docs, nearDupPairs(docs, threshold))

  /** Connected components over an undirected pair graph (doc_a, doc_b):
    * returns (doc_id, component) where component = the minimum doc_id
    * reachable from doc_id — only for documents that appear in some pair
    * (isolated docs are their own trivial component and never shuffle).
    *
    * Why it exists: the pairwise keep-lowest-id policy keeps every document
    * that is never the larger side of a pair — in the star {(2,5), (3,5)}
    * it keeps BOTH 2 and 3 even though they are transitively near each
    * other through 5. Production dedup collapses the whole cluster to one
    * survivor (2), which needs the transitive closure.
    *
    * Algorithm: simple min-label propagation to fixpoint — each round
    * every node takes the min of its own label and its neighbors' labels
    * (one shuffle per round on the node id; edges and labels are both
    * persisted so a round reads cached relations). Rounds = graph
    * diameter; near-dup graphs are small diameter (dup clusters are
    * near-cliques). At extreme scale the alternating large-star/small-star
    * formulation (Kiveris et al., "Connected Components in MapReduce")
    * converges in O(log n) rounds with the same per-round shape. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    // localCheckpoint (eager) EVERY round, not persist(): `next` references
    // `labels` twice (propagation union + convergence join), so with
    // lineage kept the analyzed plan DOUBLES per round — execution stays
    // cheap (cache hits) but anything that walks or stringifies the plan
    // (AQE's plan-change log, the UI, explain) goes exponential in the
    // round count and can wedge the DRIVER for minutes on a long-diameter
    // graph. Checkpointing truncates the plan to a leaf each round; blocks
    // are reclaimed by the ContextCleaner when the previous round's
    // Dataset becomes unreferenced.
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("component", col("doc_id"))
      .localCheckpoint(true)
    var converged = false
    while (!converged) {
      val next = edges
        .join(labels.select(col("doc_id").as("dst"), col("component")), "dst")
        .select(col("src").as("doc_id"), col("component"))
        .unionByName(labels)
        .groupBy("doc_id").agg(min("component").as("component"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("component", "prev"), "doc_id")
        .filter(col("component") =!= col("prev")).count()
      // drop the superseded round's checkpoint blocks NOW rather than
      // whenever the ContextCleaner gets to the unreferenced Dataset —
      // bounds executor storage to two rounds deterministically (ADVICE
      // r6). Must go through Ckpt.release: Dataset.unpersist is a no-op
      // on checkpoint blocks (they are RDD-level, not CacheManager).
      graft.etl.Ckpt.release(labels)
      labels = next
      converged = changed == 0
    }
    graft.etl.Ckpt.release(edges)
    labels
  }

  /** Connected components in O(log n) rounds: the alternating
    * large-star / small-star formulation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") — the documented scale upgrade
    * over [[connectedComponents]]'s diameter-bounded label propagation.
    *
    * Per round (m(u) = min of u's neighborhood including u itself):
    *   - large-star: every edge (u,v) with v > u is rewired to (v, m(u)) —
    *     large neighbors hook directly onto the local minimum;
    *   - small-star: every edge with v < u is rewired to (v, m(u)), plus
    *     (u, m(u)) so u stays attached to its minimum.
    * Both operations preserve connectivity and strictly shrink star
    * heights, converging to per-component stars rooted at the component
    * minimum in O(log n) rounds regardless of diameter — the property the
    * simple propagation lacks on long chains. Each round is two
    * groupBy-min shuffles + hash joins; convergence is detected by
    * comparing a cheap edge-set signature (count plus two independent
    * per-edge xxhash64 XOR accumulators) across rounds — one tiny
    * aggregate over the cached edges instead of two except()
    * set-differences (each a full sort/shuffle). Equal sets always
    * produce equal signatures; a false convergence needs BOTH
    * independent 64-bit XORs to collide between successive distinct
    * edge sets (~2⁻¹²⁸, and the property test cross-checks against the
    * exact label-propagation variant).
    *
    * Equivalence with [[connectedComponents]] is property-tested on
    * random graphs (DedupSpec); q53's DuckDB recursive-CTE oracle checks
    * it independently of either formulation. */
  def connectedComponentsLogN(pairs: DataFrame): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
        .distinct()
    def sym(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    def mins(s: DataFrame): DataFrame =
      s.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))

    // (count, XOR of xxhash64(u, v), XOR of xxhash64(u, v, 1)) — an
    // order-independent edge-set signature computable in one tiny
    // aggregate over the cached edges. TWO independent 64-bit XOR
    // accumulators (the second hashes an extra literal, so its family is
    // independent of the first): a silent false convergence now needs
    // both to collide between successive distinct edge sets (~2⁻¹²⁸).
    // A sum accumulator would be the textbook pairing but ANSI mode
    // makes BIGINT sum overflow a hard error, so a second XOR it is.
    def signature(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))"),
        expr("bit_xor(xxhash64(u, v, 1))")).collect()(0)
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }

    // localCheckpoint (eager) per round: it materializes AND truncates the
    // logical plan. A bare persist() caches data but keeps the full
    // lineage, and an iterative loop doubles the plan every round —
    // planning (even just stringifying it for the UI) goes exponential
    // long before execution does. Checkpoint blocks are reclaimed by the
    // ContextCleaner when unreferenced.
    var edges = canon(pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
      .localCheckpoint(true)
    var sig = signature(edges)
    var converged = sig._1 == 0
    while (!converged) {
      val s1 = sym(edges)
      val m1 = mins(s1)
      val afterLarge = canon(
        s1.join(m1, "u").filter(col("v") > col("u"))
          .select(col("v").as("a"), col("m").as("b"))
          .unionByName(m1.select(col("u").as("a"), col("m").as("b"))))
        .localCheckpoint(true)

      val s2 = sym(afterLarge)
      val m2 = mins(s2)
      val afterSmall = canon(
        s2.join(m2, "u").filter(col("v") < col("u"))
          .select(col("v").as("a"), col("m").as("b"))
          .unionByName(m2.select(col("u").as("a"), col("m").as("b"))))
        .localCheckpoint(true)

      val nextSig = signature(afterSmall)
      // deterministic storage bound: release the superseded round's
      // checkpoint blocks (and the intra-round intermediate) immediately
      // instead of waiting on the ContextCleaner (ADVICE r6). Via
      // Ckpt.release — Dataset.unpersist cannot reach checkpoint blocks.
      graft.etl.Ckpt.release(edges)
      graft.etl.Ckpt.release(afterLarge)
      edges = afterSmall
      converged = nextSig == sig
      sig = nextSig
    }
    // stable state = stars rooted at each component minimum
    val out = sym(edges).groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u").as("doc_id"), least(col("u"), col("mn")).as("component"))
      .localCheckpoint(true) // eager: safe to drop edges right after
    graft.etl.Ckpt.release(edges)
    out
  }

  /** Transitive near-dedup: survivors = each connected component's minimum
    * doc_id (plus every unpaired document). Uses the O(log n) star
    * formulation — the variant that holds up on 100 TB pair graphs. */
  def nearDedupCC(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val dominated = connectedComponentsLogN(pairs)
      .filter(col("component") =!= col("doc_id"))
      .select("doc_id")
    docs.join(dominated, Seq("doc_id"), "left_anti")
  }

  /** (doc_id, simhash) via the [[graft.functions.SimHashAgg]] sketch
    * aggregate over the (doc, token, count) relation — see [[TextOps]] for
    * the bit derivation (md5 hex digit high bits, count-weighted; the
    * arithmetic matches the oracle's 32 conditional SUMs exactly). */
  def withSimhash(docs: DataFrame): DataFrame =
    fanOut(docs)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .withColumn("h", TextOps.fingerprint(col("tok")))
      .groupBy("doc_id")
      .agg(graft.functions.SimHashAgg.sig(col("h"), col("c")).as("simhash"))

  /** 2 × 16-bit bands: pigeonhole-guarantees recall for hamming ≤ 1.
    * Wider bands matter here because SimHash values cluster on a shared
    * vocabulary — 8-bit bands produced hot buckets with quadratic
    * candidate blow-up at 5k docs (17 s → 2 s at sf0.1). */
  val SimhashBands = 2

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming (≤ 1 for
    * guaranteed recall at these band params). Candidates bucket on 16-bit
    * signature bands; verify is exact `bit_count(xor)`. */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= SimhashBands - 1, s"bands guarantee recall only to hamming ${SimhashBands - 1}")
    val sigs = withSimhash(docs).persist() // read twice by the band self-join
    val bandBits = TextOps.SimhashBits / SimhashBands
    val bands = sigs.select(
        col("doc_id"), col("simhash"),
        posexplode(array((0 until SimhashBands).map(b =>
          shiftright(col("simhash"), b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))): _*)))
      .toDF("doc_id", "simhash", "band", "key")
    bands.alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") &&
        col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Variable-length repeated-substring detection — the exact-substring
    * dedup of pretraining pipelines (the public ExactSubstr operator of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", re-expressed relationally): every maximal token span of
    * length ≥ n whose every n-window recurs somewhere in the corpus.
    * Generalizes fixed-chunk dedup (q181): boilerplate that straddles a
    * chunk boundary or differs in alignment is invisible to chunk
    * fingerprints but is still a run of repeated n-windows here.
    *
    * Characterization doing the work: a token position lies inside some
    * repeated substring of length ≥ n  ⇔  it is covered by an n-window
    * that occurs ≥ 2 times corpus-wide; maximal runs of consecutive
    * repeated window STARTS [i..j] are exactly the maximal repeated spans
    * [i .. j+n−1]. So the operator is: per-position window fingerprints →
    * occurrence counts → gaps-and-islands. No suffix array needed — the
    * suffix array in the single-node formulation exists to FIND recurring
    * windows, which a distributed hash-shuffle does natively.
    *
    * Plan shape (two-phase, recall-1 at each step):
    *   1. anchors: one O(tokens) [[graft.functions.WindowHashes]] rolling
    *      pass per document → narrow (doc_id, pos, hash:long) rows; one
    *      shuffle on the hash counts occurrences. Equal windows ⇒ equal
    *      rolling hash, so no repeat is ever missed.
    *   2. verify: only positions whose rolling hash recurs re-materialize
    *      their window TEXT (md5 over an n-token slice) — 64-bit wrap
    *      collisions die here, and the expensive per-position string work
    *      happens on the (tiny) candidate set, not the corpus. Window
    *      md5s shuffle once to count true occurrences; consecutive
    *      repeated starts then merge into maximal spans per document.
    * At 100 TB both shuffles carry uniformly-hashed narrow keys (no skew
    * by construction; a pathological planet-scale boilerplate makes one
    * hot fingerprint group whose COUNT is still a partial-aggregate).
    *
    * Returns one row per maximal repeated span: (doc_id, span_start
    * 1-based, span_len ≥ n, span_md5 of the space-joined span tokens).
    */
  def repeatedSpans(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = fanOut(docs)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
    val anchors = fanOut(docs)
      .select(col("doc_id"),
        posexplode(graft.functions.WindowHashes.of(col("text"), n)))
      .toDF("doc_id", "pos", "rh")
    val candPerDoc = anchors
      .withColumn("c", count(lit(1)).over(Window.partitionBy("rh")))
      .filter(col("c") >= 2)
      .groupBy("doc_id").agg(sort_array(collect_list(col("pos"))).as("ps"))
    val verified = candPerDoc.join(toks, "doc_id")
      .select(col("doc_id"), explode(expr(
        s"transform(ps, p -> struct(p AS pos, md5(array_join(slice(toks, p + 1, $n), ' ')) AS fp))")).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.fp").as("fp"))
    val repeated = verified
      .withColumn("c", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("c") >= 2)
    repeated
      .withColumn("grp",
        col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("pos").as("s0"), (max("pos") - min("pos") + n).as("span_len"))
      .join(toks, "doc_id")
      .select(col("doc_id"),
        (col("s0") + 1).cast("long").as("span_start"),
        col("span_len").cast("long").as("span_len"),
        md5(array_join(expr("slice(toks, s0 + 1, span_len)"), " ")).as("span_md5"))
  }

  /** Cross-split variant of [[repeatedSpans]] (q204): maximal ≥`n`-token
    * spans of TRAIN documents (doc_id ≥ `evalBound`) that appear verbatim
    * anywhere in the EVAL slice (doc_id < `evalBound`) — the
    * decontamination DEPTH metric: q65/q199 flag any 3-gram share, this
    * measures the worst verbatim leak's length, which is what a span-
    * masking policy needs. Same two-phase shape: O(L) rolling window-hash
    * anchors semi-joined against the (benchmark-sized, broadcast) eval
    * anchor set, md5 verify of the candidates only, gaps-and-islands
    * merge. The corpus side is touched once, map-side, and only anchor
    * HITS ever shuffle — at 100 TB the expected hit volume is the leak
    * volume, not the corpus. */
  def crossSpans(docs: DataFrame, n: Int, evalBound: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.broadcast
    val toks = fanOut(docs)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
    val anchors = fanOut(docs)
      .select(col("doc_id"),
        posexplode(graft.functions.WindowHashes.of(col("text"), n)))
      .toDF("doc_id", "pos", "rh")
    val evalRh = anchors.filter(col("doc_id") < evalBound).select("rh").distinct()
    val candPerDoc = anchors.filter(col("doc_id") >= evalBound)
      .join(broadcast(evalRh), "rh")
      .groupBy("doc_id").agg(sort_array(collect_set(col("pos"))).as("ps"))
    val evalFp = toks.filter(col("doc_id") < evalBound)
      .select(explode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), " +
          s"p -> md5(array_join(slice(toks, p, $n), ' ')))")).as("fp"))
      .distinct()
    val verified = candPerDoc.join(toks, "doc_id")
      .select(col("doc_id"), explode(expr(
        s"transform(ps, p -> struct(p AS pos, md5(array_join(slice(toks, p + 1, $n), ' ')) AS fp))")).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.fp").as("fp"))
      .join(broadcast(evalFp), "fp")
    verified
      .withColumn("grp",
        col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("pos").as("s0"), (max("pos") - min("pos") + n).as("span_len"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        max("span_len").cast("long").as("max_span_len"),
        sum("span_len").cast("long").as("leaked_tokens"))
  }
}
