package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VecDot.dot

/** Similarity search over an embedding column (`array<float>`), in two
  * tiers per the 100 TB contract:
  *
  *   - [[bruteForceTopK]] — exact cosine top-k: one distributed scan of the
  *     corpus per query batch, scored by the codegen'd [[graft.functions.VecDot]]
  *     expression, reduced with a two-stage bounded-state top-k (never a
  *     single-reducer window over the corpus).
  *   - [[ivfTopK]] — IVF-style: a coarse quantizer (here: per-label
  *     centroids, the stand-in for k-means cells; at scale the centroids
  *     are k-means-trained and broadcast) routes each query to `nprobe`
  *     cells, and only those cells are scored. Corpus partitioned/bucketed
  *     by cell id ⇒ the scan prunes to nprobe/k of the data.
  *   - [[hyperplaneBuckets]] — random-hyperplane LSH signatures: the
  *     bucket-join alternative when no trained quantizer exists.
  *
  * Determinism contract: scores are compared as `round(1e6·cosine)` longs
  * with vec_id tie-breaks, so ranking is integer-exact and identical in the
  * DuckDB oracle.
  */
object Ann {

  /** Cosine similarity in integer micro-units: round(1e6·(a·b)/(‖a‖‖b‖)).
    * All inputs float→double, sequential accumulation, one IEEE divide and
    * round — bit-identical across engines. */
  def cosMicros(a: Column, b: Column): Column =
    round(lit(1e6) * dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))).cast("long")

  /** SQL twin of the sequential-accumulation dot product. */
  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  def cosMicrosSql(a: String, b: String): String =
    s"CAST(round(1e6 * ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))) AS BIGINT)"

  /** Two-stage bounded-state top-k per key over (key, score, id) rows:
    * stage 1 takes the top k inside each (key, id-hash-bucket) group via
    * the [[graft.functions.TopKPairsAgg]] kernel — O(k) aggregation
    * state per partial, vs the earlier `slice(array_sort(collect_list))`
    * whose partials held the WHOLE group before slicing (at the 100×
    * audit, q198's ~10⁹-pair groups spilled 27 GB through that buffer);
    * stage 2 merges the per-bucket k-lists (16·k structs — bounded by
    * construction). Neither stage is a row_number window dragging a
    * key's entire corpus through one reducer. Order is ascending on
    * (negScore, id) — i.e. score desc, id asc — identical to the
    * collect_list formulation bit for bit.
    */
  def topKPerKey(scored: DataFrame, k: Int, buckets: Int = 16): DataFrame =
    scored
      .withColumn("neg", -col("score"))
      .groupBy(col("key"), pmod(col("id"), lit(buckets)).as("bucket"))
      .agg(call_function("topk_pairs", col("neg"), col("id"), lit(k)).as("part"))
      .groupBy("key")
      .agg(slice(array_sort(flatten(collect_list(col("part")))), 1, k).as("top"))
      .select(col("key"), posexplode(col("top")))
      .select(
        col("key"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("id"),
        (-col("col.neg") / 1e6).as("cos"))

  /** Exact cosine top-k of `corpus` for each row of `queries`
    * (both (id, vec)); queries are broadcast, the corpus streams. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = corpus.select(col("id").as("cid"), col("vec").as("cv"))
      .join(broadcast(queries.select(col("id").as("qid"), col("vec").as("qv"))))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid").as("key"), col("cid").as("id"),
        cosMicros(col("qv"), col("cv")).as("score"))
    topKPerKey(scored, k)
      .select(col("key").as("qid"), col("rank"), col("id").as("vec_id"), col("cos"))
  }

  /** Per-cell mean vectors — the coarse quantizer; output is k rows
    * (broadcastable). Computed in the EXPLODE shape: (cell, component,
    * value) rows → one narrow avg per (cell, component) → reassembled
    * into the array post-agg. An earlier formulation ran `dim` separate
    * avg aggregates in one groupBy — whole-stage codegen emits one huge
    * update method for all 64 accumulators, and huge generated methods
    * are the documented JIT hazard of this repo (compilation is
    * nondeterministically starved under compiler-queue pressure late in
    * a many-query run; observed as a 20× swing on the IVF query). The
    * explode shape keeps every generated method small, costs dim× rows
    * into a map-side partial agg, and collapses to cells×dim rows per
    * partition — the right trade at any scale.
    *
    * Each component is micro-rounded (`round(1e6·avg)/1e6`) before use:
    * a raw `avg` of doubles is summation-order-dependent, and a centroid
    * component sitting on a float rounding boundary could flip probe
    * routing between engines. The oracle SQL rounds identically. */
  def centroids(corpus: DataFrame, cellCol: String, dim: Int): DataFrame =
    corpus
      .select(col(cellCol).as("cell"), posexplode(col("vec")))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("col").cast("double")).as("a"))
      .groupBy("cell")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("a")))),
        s => round(lit(1e6) * s.getField("a")) / 1e6).as("cvec"))

  /** IVF search: route each query to its `nprobe` nearest cells (by cosine
    * to the centroid), then exact-score only vectors in those cells.
    * The probe table is tiny (queries × k cells) and broadcast; the corpus
    * side reduces to a semi-join on cell id — at scale, with the lake
    * bucketed by cell, that is a partition-pruned scan. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, cellCol: String,
              dim: Int, nprobe: Int, k: Int): DataFrame = {
    val cents = centroids(corpus, cellCol, dim)
    // query→cell routing: tiny cross product, bounded top-nprobe per query
    val probes = queries.select(col("id").as("qid"), col("vec").as("qv"))
      .join(broadcast(cents.withColumn("cvec", col("cvec").cast("array<float>"))))
      .select(col("qid"), col("qv"), col("cell"),
        cosMicros(col("qv"), col("cvec")).as("cscore"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("cscore").desc, col("cell"))))
      .filter(col("r") <= nprobe)
      .select("qid", "qv", "cell")
    val scored = corpus.select(col("id").as("cid"), col("vec").as("cv"), col(cellCol).as("cell"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid").as("key"), col("cid").as("id"),
        cosMicros(col("qv"), col("cv")).as("score"))
    topKPerKey(scored, k)
      .select(col("key").as("qid"), col("rank"), col("id").as("vec_id"), col("cos"))
  }

  // ── K-means (Lloyd) codebook training in scaled-integer space ────────────

  /** Vectors quantized to exact integer micro-units: x[d] = round(1e6·v[d])
    * as a long array. All Lloyd arithmetic below runs on these longs —
    * squared distances ≤ 64·(6e6)² ≈ 2.3e15 fit a long exactly, so
    * assignment and centroid updates are bit-identical in any engine and
    * any partition order (the scheme the PageRank query uses for ranks). */
  def quantized(corpus: DataFrame): DataFrame =
    corpus.select(col("id"),
      transform(col("vec"), x => round(x.cast("double") * 1e6).cast("long")).as("x"))

  /** Exact integer squared L2 distance between two long arrays — the
    * codegen'd [[graft.functions.VecL2I]] kernel: the assignment scan's
    * per-row work is corpus × k × dim multiplies, and the HOF
    * formulation (`aggregate(zip_with(...))`) runs it interpreted. */
  private def dist2(a: Column, b: Column): Column =
    graft.functions.VecIntOps.l2(a, b)

  /** Nearest-centroid assignment: for each (g, id) the cell minimizing
    * integer ‖x−c‖², ties to the smallest cell id. Centroids broadcast
    * (k rows per group); the corpus streams through a k-way scored
    * window partitioned by vector — one shuffle on (g, id). Keeps x so
    * the update step needs no join back. */
  private def assignStep(vectors: DataFrame, cents: DataFrame): DataFrame =
    vectors.join(broadcast(cents.select(col("g"), col("cell"), col("c"))), Seq("g"))
      .withColumn("d2", dist2(col("x"), col("c")))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("g", "id").orderBy(col("d2"), col("cell"))))
      .filter(col("r") === 1)
      .select(col("g"), col("id"), col("x"), col("cell"), col("d2"))

  /** (g, id, cell) for each vector against trained centroids — the encode
    * step (IVF cell routing / PQ code assignment). */
  def assignCells(vectors: DataFrame, cents: DataFrame): DataFrame =
    assignStep(vectors, cents).select("g", "id", "cell")

  /** Total integer squared quantization error of the corpus against its
    * nearest centroids — the objective Lloyd descends; the training-
    * quality number a codebook ships with. */
  def sseOf(vectors: DataFrame, cents: DataFrame): Long =
    assignStep(vectors, cents).agg(sum(col("d2"))).head.getLong(0)

  /** Lloyd k-means over (g, id, x: array<long>) — one independent
    * codebook per group g (g = 0 for plain k-means; g = subvector index
    * for PQ). Init: the k lowest-id vectors of each group seed the
    * cells. Each iteration: broadcast-centroid argmin assignment, then
    * a centroid update as a (g, cell, pos) hash aggregate — map-side
    * partial agg absorbs the corpus, the shuffle carries ≤ groups·k·dim
    * rows. New components are exact integer floor(sum/count)
    * (sum − pmod(sum, n))/n, so every iteration is bit-replayable by
    * the oracle; an emptied cell keeps its previous centroid. State is
    * rolled forward persist → materialize → unpersist (the PageRank
    * lineage discipline); the only driver action is the per-iteration
    * materialization count.
    *
    * Returns (g, cell, c: array<long>, n_members) where n_members is the
    * cell's population in the final assignment (0 for an emptied cell).
    * `iters = 0` returns the untrained seed centroids — the baseline the
    * recall spec measures training against. */
  def lloyd(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    // Seed = the k lowest ids PRESENT per group, by rank — NOT the literal
    // predicate `id < k`, which on a sparse or non-zero-based id space
    // selects nothing and yields an empty codebook that every downstream
    // inner join silently drops the corpus against. On a dense 0-based id
    // space (every oracle fixture) the rank picks exactly {0..k-1}, so
    // trained artifacts are bit-identical to the historical seeding. The
    // rank window runs over the 2-column (g, id) projection only; the
    // chosen ids join back against the vectors broadcast-style (k·groups
    // rows — a model-sized relation, never the corpus).
    val seedIds = vectors.select(col("g"), col("id"))
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("id")))
      .filter(col("__r") <= k)
      .drop("__r")
    var cents = vectors.join(broadcast(seedIds), Seq("g", "id"))
      .select(col("g"), col("id").as("cell"), col("x").as("c"))
      .withColumn("n_members", lit(0L))
      .persist()
    cents.count()
    for (_ <- 1 to iters) {
      val assigned = assignStep(vectors, cents)
      val upd = assigned
        .select(col("g"), col("cell"), posexplode(col("x")))
        .groupBy("g", "cell", "pos")
        .agg(count(lit(1)).as("n"), sum("col").as("sv"))
        .withColumn("cv",
          ((col("sv") - pmod(col("sv"), col("n"))) / col("n")).cast("long"))
        .groupBy("g", "cell")
        .agg(
          transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
            s => s.getField("cv")).as("cnew"),
          max("n").as("nn"))
      val prev = cents
      cents = prev.select(col("g"), col("cell"), col("c"))
        .join(upd, Seq("g", "cell"), "left")
        .select(col("g"), col("cell"),
          coalesce(col("cnew"), col("c")).as("c"),
          coalesce(col("nn"), lit(0L)).as("n_members"))
        .persist()
      cents.count()
      prev.unpersist()
    }
    cents
  }

  // ── Random-hyperplane LSH ────────────────────────────────────────────────

  val LshBits = 16

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic pseudo-random hyperplanes in [−1, 1]^dim, materialized as
    * *float* constants (so the Spark literal array and the SQL literal list
    * parse to the identical values in both engines). Generated at plan
    * build — zero per-row hashing at runtime. The first [[LshBits]] planes
    * are the fixed signature family every static consumer (and every
    * oracle SQL text) replays; [[lshNearDupPairs]]'s adaptive banding
    * draws further planes from the same seeded family. */
  def planes(dim: Int, count: Int = LshBits): IndexedSeq[IndexedSeq[Float]] =
    (0 until count).map(j => (0 until dim).map { i =>
      val u = (splitmix64(j.toLong * dim + i) >>> 11).toDouble / (1L << 53).toDouble
      (2.0 * u - 1.0).toFloat
    })

  /** (id, bucket): the LshBits-bit signature of each vector — sign of the
    * dot product against each hyperplane. Map-side only, no shuffle. */
  def hyperplaneBuckets(corpus: DataFrame, dim: Int): DataFrame = {
    val ps = planes(dim)
    val bucket = (0 until LshBits).map { j =>
      val plane = typedLit(ps(j)).cast("array<float>")
      when(dot(col("vec"), plane) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    corpus.select(col("id"), bucket.as("bucket"))
  }

  /** SQL literal for plane j, matching [[planes]] bit-for-bit (shortest
    * round-trip decimal repr of each float re-parses to the same value). */
  def planeSql(dim: Int, j: Int): String =
    planes(dim)(j).map(f => s"CAST(${f.toDouble} AS FLOAT)").mkString("[", ", ", "]")

  /** Bands for LSH-bucketed near-dup candidate generation: 4 bands × 4 bits.
    * A pair agreeing on ANY band is a candidate — banding trades the full
    * 16-bit bucket equality (which near-dups at cosine ~0.9 only satisfy
    * ~8% of the time: each sign bit flips with p = θ/π ≈ 0.14) for
    * ≥1-of-4 4-bit band agreement (~95% recall at the same similarity),
    * exactly the MinHash banding trade applied to hyperplane signatures. */
  val LshBands = 4

  /** Per-band bucket-size target for [[lshParams]]. At ~125 expected
    * vectors per (band, key) bucket, per-band candidate mass is
    * ≈ n·125/2 — linear in the corpus. */
  val LshTargetBucket = 125L

  /** Adaptive banding parameters (r bits per band, b bands) for a corpus
    * of `n` vectors — THE fix for the scale defect the r11 full-suite
    * 100× audit caught: at fixed (r=4, b=4) each band partitions the
    * corpus into only 2⁴ = 16 buckets, so bucket sizes grow linearly with
    * n and the candidate self-join's pair mass grows QUADRATICALLY
    * (Σ c² per band). Measured at 100× (200 k embeddings): ~10⁹ candidate
    * pairs, multi-GB allocation retries, a >25 min grind — the classic
    * LSH sizing mistake.
    *
    * The textbook parameterization: r = ⌈log₂(n / target-bucket)⌉ keeps
    * per-bucket size ~constant (key-space tracks the corpus), and b grows
    * with r to restore the recall longer keys cost (standard LSH
    * amplification: collision prob per band p^r shrinks as r grows, so
    * more independent bands re-amplify 1−(1−p^r)^b). At every oracle
    * scale (n ≤ 2000) this resolves to EXACTLY (r=4, b=4) — the constants
    * the static oracle SQL replays — so the hash gate still proves the
    * machinery; the adaptivity engages only beyond oracle scale, the same
    * oracle-determinism trade q198's quantizer-k contract documents. */
  def lshParams(n: Long): (Int, Int) = {
    def clog2(x: Long): Int =
      if (x <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1)
    val r = math.min(16, math.max(LshBits / LshBands,
      clog2((n + LshTargetBucket - 1) / LshTargetBucket)))
    val b = LshBands + 2 * (r - LshBits / LshBands)
    (r, b)
  }

  /** Embedding-cosine near-duplicate pairs via hyperplane-LSH banding:
    * signature → band explode → bucketed equality self-join on
    * (band, key) → distinct candidates → exact-cosine verify ≥
    * `thresholdMicros`. The plan has NO corpus×corpus product — the only
    * joins are hash joins on band keys and ids — and [[lshParams]] sizes
    * the band key-space to the corpus so the bucket self-join's pair mass
    * stays LINEAR in n at any scale (at fixed keys it is quadratic; see
    * [[lshParams]]). Recall is governed by the banding parameters, and
    * the oracle replays the identical banded algorithm at the identical
    * (oracle-scale) parameters, so the compare is exact. The one-row
    * `count()` is the corpus-size lookup a lake's table statistics answer
    * at production scale. */
  def lshNearDupPairs(corpus: DataFrame, dim: Int, thresholdMicros: Long): DataFrame = {
    val n = corpus.count()
    val (r, b) = lshParams(n)
    val ps = planes(dim, r * b)
    // band key = the r sign bits of this band's own plane block — for
    // (r, b) = (LshBits/LshBands, LshBands) this is bit-identical to
    // slicing the LshBits-bit signature, which is what the SQL replays
    val keys = (0 until b).map { band =>
      (0 until r).map { j =>
        val plane = typedLit(ps(band * r + j)).cast("array<float>")
        when(dot(col("vec"), plane) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val bands = corpus.select(col("id"), posexplode(array(keys: _*)))
      .toDF("id", "band", "key")
    val cand = bands.alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"))
    // Verify MAP-SIDE: the candidate relation is the big side (b·n·bucket/2
    // rows — 2.2e8 at the 100× audit), so a pre-verify `distinct` plus two
    // shuffle joins to fetch vectors would shuffle it three times for a
    // ~5% dedup (random pairs rarely collide in >1 band). Instead the
    // (id, vec) relation rides as an explicit broadcast on both probe
    // sides — the Dedup shingle-set idiom: a per-task deserialization tax
    // (~50 MB at 200 k × 64 floats) that keeps the entire verify inside
    // one codegen'd map stage — and the dedup moves AFTER the threshold
    // filter, where only the duplicate-sized survivor set pays the
    // shuffle. Measured at the 100× audit: 271 s → ~20 s. At a corpus
    // where the vector relation outgrows broadcast, verify becomes the
    // standard shuffle join — the candidate mass stays linear either way.
    // The degrade is ENFORCED, not just documented: an explicit broadcast
    // hint is honored regardless of size, so past the estimate gate below
    // a huge corpus would hit the 8 GB broadcast limit / driver OOM
    // instead of degrading. n·(4·dim + 40) ≈ serialized (id, float-array)
    // bytes (array header + id + row overhead ~40 B); the 1 GiB ceiling
    // leaves the usual driver-heap headroom under the 8 GB hard cap.
    val hint: DataFrame => DataFrame =
      if (n * (4L * dim + 40L) <= (1L << 30))
        org.apache.spark.sql.functions.broadcast
      else identity
    val vecs = corpus.select(col("id"), col("vec"))
    cand
      .join(hint(vecs.select(col("id").as("vec_a"), col("vec").as("va"))), "vec_a")
      .join(hint(vecs.select(col("id").as("vec_b"), col("vec").as("vb"))), "vec_b")
      .withColumn("cm", cosMicros(col("va"), col("vb")))
      .filter(col("cm") >= thresholdMicros)
      .select("vec_a", "vec_b", "cm")
      .distinct()
  }

  // ── Shared pair relation (embedding space) ───────────────────────────
  //
  // The hyperplane-LSH pipeline above is the expensive stage of the
  // embedding near-dup family; the pair report (q54) and the semantic
  // split-leakage audit (q193) consume the SAME duplicate-sized verified
  // pair relation — re-deriving signatures and the bucket join per
  // consumer multiplies the dominant cost by the consumer count (2×
  // ~160 s at the 100× audit). At 100 TB this relation is a maintained
  // lake table the dedup pass publishes.

  /** [[lshNearDupPairs]] as a graft.etl.Artifact: built once per
    * (corpus, dim, threshold), read back from parquet by every later
    * consumer in the same JVM. A corpus regenerated with the same ids
    * but different vectors is a different input and rebuilds. */
  def lshNearDupPairsCkpt(corpus: DataFrame, dim: Int, thresholdMicros: Long): DataFrame =
    graft.etl.Artifact("emb-pairs", dim, thresholdMicros)(corpus)(
      lshNearDupPairs(_, dim, thresholdMicros))
}
