package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.VecDot
import graft.llm.Ann
import graft.model.Tables

/** Similarity-search inventory over the `embeddings` table
  * (vec_id, embedding array<float>[64], label): array-column math,
  * exact brute-force ANN as the verifiable baseline, IVF as the scale
  * path, hyperplane-LSH bucketing as the untrained alternative.
  *
  * Every query compares integer micro-cosines (`round(1e6·cos)` longs),
  * so the DuckDB oracle — which recomputes the same sequential
  * float→double arithmetic via `list_transform`/`list_sum` — hash-matches
  * bit-for-bit.
  */
object Similarity {

  private val Dim = 64

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)

  /** embeddings as the (id, vec) shape the Ann module speaks. Fanned out
    * across partitions (adaptive, see [[graft.etl.FanOut]]): the test
    * corpus arrives as one unsplittable input split, which would serialize
    * per-row scoring (the dominant work of every ANN plan) into a single
    * task. */
  private def corpus(s: SparkSession, d: String): DataFrame =
    graft.etl.FanOut.fanOut(
      emb(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"), col("label")),
      col("id"))

  private val dotSelfSql = Ann.dotSql("embedding", "embedding")

  /** DuckDB replay of [[Ann.lloyd]]: a CTE chain training per-group
    * k-means codebooks in scaled-integer space. Emits CTEs `e` (micro-
    * quantized vectors), `v` (per-group subvectors), `c0` (seed
    * centroids), and per iteration `a{i}` (assignment), `u{i}`/`n{i}`
    * (update), `c{i}` (next centroids, emptied cells carried forward).
    * Every CTE is MATERIALIZED — c{i} references c{i-1} twice, so
    * DuckDB's default inlining would expand the scan exponentially in
    * the iteration count (the q164 lesson). Ends with ",\n" so callers
    * append their own CTEs / final SELECT. */
  private def lloydSql(m: Int, subDim: Int, k: Int, iters: Int): String =
    "e AS MATERIALIZED (SELECT vec_id AS id, " +
      "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS vfull " +
      "FROM embeddings),\n" +
      s"v AS MATERIALIZED (SELECT id, g, vfull[g * $subDim + 1 : (g + 1) * $subDim] AS x " +
      s"FROM e CROSS JOIN (SELECT unnest(range(0, $m)) AS g)),\n" +
      lloydChainSql("", "v", subDim, k, iters)

  /** The Lloyd iteration chain over an arbitrary existing (id, g, x)
    * relation `src`, with every CTE name prefixed by `p` — so TWO
    * trainings (e.g. q178's coarse quantizer + residual-PQ codebooks)
    * compose in one oracle without name collisions. Emits
    * {p}c0…{p}c{iters} (+ per-iteration {p}a/{p}u/{p}n). */
  private def lloydChainSql(p: String, src: String, subDim: Int, k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(s"${p}c0 AS MATERIALIZED (SELECT g, id AS cell, x AS c FROM $src WHERE id < $k),\n")
    for (i <- 1 to iters) {
      val pr = i - 1
      sb.append(s"${p}a$i AS MATERIALIZED (SELECT id, g, x, cell FROM (" +
        s"SELECT v.id, v.g, v.x, c.cell, row_number() OVER (PARTITION BY v.g, v.id ORDER BY " +
        s"CAST(list_sum(list_transform(range(1, $subDim + 1), " +
        s"j -> (v.x[j] - c.c[j]) * (v.x[j] - c.c[j]))) AS BIGINT), c.cell) AS r " +
        s"FROM $src v JOIN ${p}c$pr c ON c.g = v.g) WHERE r = 1),\n")
      sb.append(s"${p}u$i AS MATERIALIZED (SELECT g, cell, pos, CAST(count(*) AS BIGINT) AS n, " +
        s"CAST(sum(vv) AS BIGINT) AS sv FROM " +
        s"(SELECT g, cell, unnest(x) AS vv, unnest(range(1, len(x) + 1)) AS pos FROM ${p}a$i) " +
        s"GROUP BY 1, 2, 3),\n")
      sb.append(s"${p}n$i AS MATERIALIZED (SELECT g, cell, max(n) AS nm, " +
        s"list(CAST((sv - ((sv % n) + n) % n) / n AS BIGINT) ORDER BY pos) AS c " +
        s"FROM ${p}u$i GROUP BY g, cell),\n")
      sb.append(s"${p}c$i AS MATERIALIZED (SELECT p.g, p.cell, coalesce(u.c, p.c) AS c " +
        s"FROM ${p}c$pr p LEFT JOIN ${p}n$i u ON u.g = p.g AND u.cell = p.cell),\n")
    }
    sb.toString
  }

  /** Nearest-final-centroid assignment CTE (the encode step), over the
    * chain emitted by [[lloydSql]]. */
  private def encSql(subDim: Int, iters: Int): String =
    encChainSql("enc", "v", "c", subDim, iters)

  /** Prefixed encode CTE over arbitrary source/centroid-chain names. */
  private def encChainSql(out: String, src: String, cchain: String,
      subDim: Int, iters: Int): String =
    s"$out AS MATERIALIZED (SELECT id, g, cell FROM (" +
      s"SELECT v.id, v.g, c.cell, row_number() OVER (PARTITION BY v.g, v.id ORDER BY " +
      s"CAST(list_sum(list_transform(range(1, $subDim + 1), " +
      s"j -> (v.x[j] - c.c[j]) * (v.x[j] - c.c[j]))) AS BIGINT), c.cell) AS r " +
      s"FROM $src v JOIN $cchain$iters c ON c.g = v.g) WHERE r = 1)"

  private val LloydIters = 3
  private val KmeansK    = 10

  // product quantization: 4 subvectors × 16 dims, 16 codewords each,
  // trained with 2 Lloyd iterations of the same grouped trainer
  private val PqM     = 4
  private val PqSub   = Dim / PqM
  private val PqK     = 16
  private val PqIters = 2
  /** Coarse cells probed per query in IVFADC search (q178). */
  private val IvfNprobe = 2

  /** q179 ranking-metric weights, precomputed ONCE in exact integer
    * micro-units and emitted as literals into BOTH engines — so NDCG/MRR
    * never depend on either engine's log2/division: position i carries
    * round(1e6/log2(i+1)) micro-gain, reciprocal rank r carries
    * round(1e6/r). */
  private val NdcgW: IndexedSeq[Long] =
    (1 to 10).map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
  private val NdcgIdeal: Long = NdcgW.sum
  private val MrrW: IndexedSeq[Long] = (1 to 10).map(i => math.round(1e6.toDouble / i))

  /** Trained-codebook cache. [[Ann.lloyd]] is deterministic in (corpus
    * dir, vector split, k, iters), and its output is a model artifact of
    * k·dim longs, not a dataset — so the four consumers (q165 ships the
    * codebook, q166 builds an IVF index, q167 four PQ sub-codebooks,
    * q170 SemDeDup cells) train ONCE per session the way a production
    * pipeline trains once and applies everywhere (the q164/q169 BPE
    * precedent, CurationOps.bpeTrained). The memo holds the COLLECTED
    * rows (bounded driver state, same contract as the BPE merge table):
    * a re-request rebuilds a local relation with no training lineage, so
    * the inter-query `clearCache()` in Bench/Verify cannot force a
    * silent retrain the way dropping a persisted DataFrame would. */
  private val lloydTrained = new graft.etl.Memo[
    (SparkSession, String, String, Int, Int), Seq[(Long, Long, Seq[Long], Long)]]

  private def trainedCents(s: SparkSession, d: String, split: String,
      k: Int, iters: Int)(vecs: => DataFrame): DataFrame = {
    val rows = lloydTrained((s, d, split, k, iters)) {
      val df = Ann.lloyd(vecs, k, iters)
      val out = df.collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getSeq[Long](2), r.getLong(3)))
      df.unpersist()
      out
    }
    import s.implicits._
    rows.toDF("g", "cell", "c", "n_members")
  }

  val defs: Vector[Q] = Vector(

    // ── Array-column math: L2 norms via the codegen'd vec_dot expression,
    //    aggregated per label in exact integer micro-units (same
    //    order-independence scheme as the money math).
    Q("q38_embedding_norms",
      s"""WITH n AS (SELECT label,
         |                  CAST(round(1e6 * sqrt($dotSelfSql)) AS BIGINT) AS nm
         |           FROM embeddings)
         |SELECT label, count(*) AS n_vecs,
         |       round(sum(nm) / count(*)) / 1e6 AS avg_norm,
         |       min(nm) / 1e6 AS min_norm,
         |       max(nm) / 1e6 AS max_norm
         |FROM n GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      emb(s, d)
        .select(col("label"),
          round(lit(1e6) * sqrt(VecDot.dot(col("embedding"), col("embedding"))))
            .cast("long").as("nm"))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_vecs"),
          (round(sum("nm") / count(lit(1))) / 1e6).as("avg_norm"),
          (min("nm") / 1e6).as("min_norm"),
          (max("nm") / 1e6).as("max_norm"))
        .orderBy("label")
    },

    // ── Exact brute-force cosine top-10 for a 5-query batch: the ANN
    //    baseline every approximate index is measured against. Queries are
    //    broadcast; the corpus streams once; top-k is the two-stage
    //    bounded-state reduction (never a full-corpus single-reducer sort).
    Q("q39_ann_brute_topk",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |           FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT qid, vec_id, ${Ann.cosMicrosSql("qv", "embedding")} AS cm
         |      FROM q CROSS JOIN embeddings WHERE vec_id <> qid),
         |r AS (SELECT qid, vec_id, cm,
         |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cm DESC, vec_id)
         |                  AS INTEGER) AS rank
         |      FROM s)
         |SELECT qid, rank, vec_id, cm / 1e6 AS cos
         |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val c = corpus(s, d)
      Ann.bruteForceTopK(c, c.filter(col("id") < 5).select("id", "vec"), 10)
        .orderBy("qid", "rank")
    },

    // ── IVF top-10, nprobe=2: per-cell centroids (label = the coarse
    //    quantizer cell; k-means-trained at scale) route each query to its
    //    2 nearest cells; only those cells are scored. With the lake
    //    bucketed by cell id this is a partition-pruned scan of 2/10 of
    //    the corpus. The oracle replays the same algorithm in SQL.
    Q("q40_ann_ivf_topk", {
      // micro-rounded like Ann.centroids — raw avg() is summation-order-dependent
      val centTerms = (1 to Dim).map(i =>
        s"round(1e6 * avg(CAST(embedding[$i] AS DOUBLE))) / 1e6").mkString(", ")
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |           FROM embeddings WHERE vec_id < 5),
         |cent AS (SELECT label AS cell, list_value($centTerms) AS cvec
         |         FROM embeddings GROUP BY label),
         |centf AS (SELECT cell, list_transform(cvec, x -> CAST(x AS FLOAT)) AS cvf FROM cent),
         |probes AS (SELECT qid, cell FROM (
         |    SELECT q.qid, c.cell,
         |           row_number() OVER (PARTITION BY q.qid
         |             ORDER BY ${Ann.cosMicrosSql("q.qv", "c.cvf")} DESC, c.cell) AS r
         |    FROM q CROSS JOIN centf c)
         |  WHERE r <= 2),
         |s AS (SELECT p.qid, e.vec_id, ${Ann.cosMicrosSql("q.qv", "e.embedding")} AS cm
         |      FROM probes p
         |      JOIN embeddings e ON e.label = p.cell
         |      JOIN q ON q.qid = p.qid
         |      WHERE e.vec_id <> p.qid),
         |r AS (SELECT qid, vec_id, cm,
         |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cm DESC, vec_id)
         |                  AS INTEGER) AS rank
         |      FROM s)
         |SELECT qid, rank, vec_id, cm / 1e6 AS cos
         |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
    }) { (s, d) =>
      val c = corpus(s, d)
      Ann.ivfTopK(c, c.filter(col("id") < 5).select("id", "vec"),
        cellCol = "label", dim = Dim, nprobe = 2, k = 10)
        .orderBy("qid", "rank")
    },

    // ── Random-hyperplane LSH signatures: 16 sign-bits against
    //    deterministic plane constants (identical float literals in both
    //    engines; zero per-row hashing — planes are plan-time constants).
    //    Output is the bucket-occupancy histogram — the diagnostic that
    //    tells you whether a signature width balances load before you
    //    shuffle 100 TB by bucket.
    // ── Embedding-cosine near-duplicate pairs at a fixed threshold — the
    //    embedding flavor of the dedup family. This is the ORACLE BASELINE
    //    for the LSH-bucketed scale path (q54 below): an exact all-pairs
    //    scan over a SAMPLED slice (vec_id < 500, both sides and in the
    //    oracle). The cap bounds the nested-loop's build side to ≤500 rows
    //    (broadcast-sized) at ANY scale factor, so the inventory carries no
    //    unbounded corpus×corpus product — the baseline's cost is a
    //    constant, the way a recall-measurement harness samples at 100 TB.
    Q("q45_embedding_near_dup",
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |             ${Ann.cosMicrosSql("a.embedding", "b.embedding")} AS cm
         |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, cm / 1e6 AS cos
         |FROM p WHERE cm >= 400000 ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
      val e = emb(s, d).filter(col("vec_id") < 500)
      // parallelize the streamed side of the pair scan (adaptive fan-out)
      val a = graft.etl.FanOut.fanOut(
        e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), col("vec_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      a.join(broadcast(b), col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          Ann.cosMicros(col("ea"), col("eb")).as("cm"))
        .filter(col("cm") >= 400000)
        .select(col("vec_a"), col("vec_b"), (col("cm") / 1e6).as("cos"))
        .orderBy("vec_a", "vec_b")
    },

    // ── Embedding near-dup, LSH-BUCKETED (the 100 TB composition the q45
    //    baseline is honest about lacking): hyperplane signature → 4×4-bit
    //    bands → bucketed equality self-join for candidates → exact-cosine
    //    verify. No BroadcastNestedLoopJoin anywhere in the plan — every
    //    join is a hash join on a band key or an id. Recall vs the exact
    //    baseline is governed by the banding AND the threshold: ~95% for
    //    pairs at cosine ~0.9, but only ~50% near this query's 0.4 cutoff
    //    (each sign bit flips with p = θ/π ≈ 0.37 there) — the candidate
    //    set is a recall trade, not exhaustive. The oracle replays the
    //    identical banded algorithm (the q40 pattern), so the compare is
    //    still bit-exact.
    Q("q54_embedding_near_dup_lsh", {
      val bits = (0 until Ann.LshBits).map { j =>
        s"(CASE WHEN ${Ann.dotSql("embedding", Ann.planeSql(Dim, j))} > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      val bandBits = Ann.LshBits / Ann.LshBands
      s"""WITH sig AS (SELECT vec_id, ($bits) AS bucket FROM embeddings),
         |b AS (SELECT vec_id, band, (bucket >> (band * $bandBits)) & ${(1 << bandBits) - 1} AS key
         |      FROM sig CROSS JOIN (SELECT unnest([${(0 until Ann.LshBands).mkString(", ")}]) AS band)),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
         |         FROM b a JOIN b b2
         |           ON a.band = b2.band AND a.key = b2.key AND a.vec_id < b2.vec_id),
         |p AS (SELECT c.vec_a, c.vec_b,
         |             ${Ann.cosMicrosSql("ea.embedding", "eb.embedding")} AS cm
         |      FROM cand c
         |      JOIN embeddings ea ON ea.vec_id = c.vec_a
         |      JOIN embeddings eb ON eb.vec_id = c.vec_b)
         |SELECT vec_a, vec_b, cm / 1e6 AS cos
         |FROM p WHERE cm >= 400000 ORDER BY vec_a, vec_b""".stripMargin
    }) { (s, d) =>
      // reads the verified-pair artifact q193 shares
      Ann.lshNearDupPairsCkpt(corpus(s, d), Dim, 400000L)
        .select(col("vec_a"), col("vec_b"), (col("cm") / 1e6).as("cos"))
        .orderBy("vec_a", "vec_b")
    },

    // ── Int8 scalar quantization: each vector scaled by its max-abs
    //    component and rounded to [-127, 127] — the 4× storage compression
    //    step of a 100 TB embedding lake (quantize at ingest, rerank the
    //    top-k with full-precision vectors). Map-side only; the aggregate
    //    rides exact integers, and both engines run the identical
    //    double-divide → ×127 → half-away-from-zero round per component,
    //    so the compare is bit-exact.
    Q("q69_embedding_quantize",
      """WITH s AS (SELECT vec_id, label, embedding,
        |                  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
        |           FROM embeddings),
        |q AS (SELECT label,
        |             list_transform(embedding,
        |                            x -> CAST(round(CAST(x AS DOUBLE) / m * 127) AS BIGINT)) AS qv
        |      FROM s WHERE m > 0)
        |SELECT label, count(*) AS n_vecs,
        |       CAST(sum(list_sum(qv)) AS BIGINT) AS sum_q,
        |       CAST(min(list_min(qv)) AS BIGINT) AS min_q,
        |       CAST(max(list_max(qv)) AS BIGINT) AS max_q
        |FROM q GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      val m = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
      emb(s, d)
        .withColumn("m", m)
        .filter(col("m") > 0)
        .withColumn("qv", transform(col("embedding"),
          x => round(x.cast("double") / col("m") * 127).cast("long")))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_vecs"),
          sum(aggregate(col("qv"), lit(0L), (acc, v) => acc + v)).cast("long").as("sum_q"),
          min(array_min(col("qv"))).cast("long").as("min_q"),
          max(array_max(col("qv"))).cast("long").as("max_q"))
        .orderBy("label")
    },

    // ── ANN recall harness: recall@10 of the IVF index (nprobe=2) against
    //    the exact brute-force baseline, per query — the "measure, don't
    //    guess" query every approximate index ships with. At 100 TB this
    //    exact shape runs over a sampled query batch (both operand plans
    //    already scale: broadcast queries / pruned cell scan); the recall
    //    join itself is k-bounded per query. Both engines replay both
    //    algorithms with micro-rounded integer scores, so the compare is
    //    bit-exact: a routing flip or rank tie-break drift anywhere in
    //    either pipeline shows up as a recall mismatch here.
    Q("q77_ann_recall", {
      val centTerms = (1 to Dim).map(i =>
        s"round(1e6 * avg(CAST(embedding[$i] AS DOUBLE))) / 1e6").mkString(", ")
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |           FROM embeddings WHERE vec_id < 5),
         |bs AS (SELECT qid, vec_id, ${Ann.cosMicrosSql("qv", "embedding")} AS cm
         |       FROM q CROSS JOIN embeddings WHERE vec_id <> qid),
         |bt AS (SELECT qid, vec_id FROM (
         |         SELECT qid, vec_id,
         |                row_number() OVER (PARTITION BY qid ORDER BY cm DESC, vec_id) AS r
         |         FROM bs) WHERE r <= 10),
         |cent AS (SELECT label AS cell, list_value($centTerms) AS cvec
         |         FROM embeddings GROUP BY label),
         |centf AS (SELECT cell, list_transform(cvec, x -> CAST(x AS FLOAT)) AS cvf FROM cent),
         |probes AS (SELECT qid, cell FROM (
         |    SELECT q.qid, c.cell,
         |           row_number() OVER (PARTITION BY q.qid
         |             ORDER BY ${Ann.cosMicrosSql("q.qv", "c.cvf")} DESC, c.cell) AS r
         |    FROM q CROSS JOIN centf c)
         |  WHERE r <= 2),
         |ivs AS (SELECT p.qid, e.vec_id, ${Ann.cosMicrosSql("q.qv", "e.embedding")} AS cm
         |        FROM probes p
         |        JOIN embeddings e ON e.label = p.cell
         |        JOIN q ON q.qid = p.qid
         |        WHERE e.vec_id <> p.qid),
         |it AS (SELECT qid, vec_id FROM (
         |         SELECT qid, vec_id,
         |                row_number() OVER (PARTITION BY qid ORDER BY cm DESC, vec_id) AS r
         |         FROM ivs) WHERE r <= 10)
         |SELECT bt.qid,
         |       CAST(count(it.vec_id) AS BIGINT) AS n_hits,
         |       count(it.vec_id) / 10.0 AS recall_at_10
         |FROM bt LEFT JOIN it ON it.qid = bt.qid AND it.vec_id = bt.vec_id
         |GROUP BY bt.qid ORDER BY bt.qid""".stripMargin
    }) { (s, d) =>
      val c = corpus(s, d)
      val qs = c.filter(col("id") < 5).select("id", "vec")
      val bt = Ann.bruteForceTopK(c, qs, 10).select("qid", "vec_id")
      val it = Ann.ivfTopK(c, qs, cellCol = "label", dim = Dim, nprobe = 2, k = 10)
        .select(col("qid"), col("vec_id")).withColumn("hit", lit(1))
      bt.join(it, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(
          count(col("hit")).as("n_hits"),
          (count(col("hit")) / 10.0).as("recall_at_10"))
        .orderBy("qid")
    },

    // ── Top-k search over the int8-QUANTIZED lake (q69's compression put
    //    to work): integer dot products over the quantized vectors,
    //    scale-corrected by the two per-vector max-abs factors
    //    (score = dot·ma·mb/127²) — exactly how an int8 embedding index
    //    scores before full-precision reranking. Everything before the
    //    final scale is INTEGER arithmetic, bit-exact in any engine and
    //    any partition order; the scale correction is one deterministic
    //    IEEE product chain, micro-rounded. The int8 values ride float
    //    arrays through the codegen'd VecDot kernel (products ≤127² and
    //    sums ≤64·127² are exactly representable, so the double result IS
    //    the integer dot). Queries broadcast, corpus streams, top-k via
    //    the bounded two-stage reduction — the q39 plan at 4× less IO.
    Q("q95_ann_int8", {
      val zipTerms = s"range(1, ${Dim + 1})"
      s"""WITH s AS (SELECT vec_id, embedding,
         |                  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
         |           FROM embeddings),
         |qz AS (SELECT vec_id, m,
         |              list_transform(embedding,
         |                             x -> CAST(round(CAST(x AS DOUBLE) / m * 127) AS BIGINT)) AS qv
         |       FROM s WHERE m > 0),
         |qs AS (SELECT vec_id AS qid, m AS qm, qv AS qqv FROM qz WHERE vec_id < 5),
         |sc AS (SELECT qs.qid, c.vec_id,
         |              round(1e6 * CAST(list_sum(list_transform($zipTerms,
         |                                 i -> qs.qqv[i] * c.qv[i])) AS DOUBLE)
         |                    * qs.qm * c.m / 16129.0) AS sm
         |       FROM qs CROSS JOIN qz c WHERE c.vec_id <> qs.qid),
         |r AS (SELECT qid, vec_id, sm,
         |             row_number() OVER (PARTITION BY qid ORDER BY sm DESC, vec_id) AS rank
         |      FROM sc)
         |SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id, sm / 1e6 AS score
         |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
    }) { (s, d) =>
      val qz = emb(s, d)
        .withColumn("m", array_max(transform(col("embedding"), x => abs(x.cast("double")))))
        .filter(col("m") > 0)
        .withColumn("qv", transform(col("embedding"),
          x => round(x.cast("double") / col("m") * 127).cast("float")))
        .select(col("vec_id"), col("m"), col("qv"))
      val qs = qz.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("m").as("qm"), col("qv").as("qqv"))
      val scored = qz.join(broadcast(qs), col("vec_id") =!= col("qid"))
        .select(col("qid").as("key"), col("vec_id").as("id"),
          round(lit(1e6) * VecDot.dot(col("qqv"), col("qv"))
            * col("qm") * col("m") / 16129.0).cast("long").as("score"))
      Ann.topKPerKey(scored, k = 10)
        .select(col("key").as("qid"), col("rank"),
          col("id").as("vec_id"), col("cos").as("score"))
        .orderBy("qid", "rank")
    },

    // ── Two-phase quantized search — the production ANN pattern end to
    //    end: stage 1 recalls top-20 candidates per query on the int8
    //    lake (q95's integer scoring, 4× less IO), stage 2 reranks ONLY
    //    those candidates with full-precision cosine and keeps the
    //    top-10. At 100 TB the expensive float pass touches 20 vectors
    //    per query instead of the corpus — the recall/rerank split every
    //    deployed vector index uses. Both stages replayed bit-exact by
    //    the oracle (integer stage exact, rerank micro-rounded), so a
    //    candidate-set or tie-break drift in either stage hash-fails.
    Q("q96_ann_rerank", {
      val zipTerms = s"range(1, ${Dim + 1})"
      s"""WITH s AS (SELECT vec_id, embedding,
         |                  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
         |           FROM embeddings),
         |qz AS (SELECT vec_id, m,
         |              list_transform(embedding,
         |                             x -> CAST(round(CAST(x AS DOUBLE) / m * 127) AS BIGINT)) AS qv
         |       FROM s WHERE m > 0),
         |qs AS (SELECT vec_id AS qid, m AS qm, qv AS qqv FROM qz WHERE vec_id < 5),
         |sc AS (SELECT qs.qid, c.vec_id,
         |              round(1e6 * CAST(list_sum(list_transform($zipTerms,
         |                                 i -> qs.qqv[i] * c.qv[i])) AS DOUBLE)
         |                    * qs.qm * c.m / 16129.0) AS sm
         |       FROM qs CROSS JOIN qz c WHERE c.vec_id <> qs.qid),
         |cand AS (SELECT qid, vec_id FROM (
         |           SELECT qid, vec_id,
         |                  row_number() OVER (PARTITION BY qid ORDER BY sm DESC, vec_id) AS rn
         |           FROM sc) WHERE rn <= 20),
         |q AS (SELECT vec_id AS qid, embedding AS fqv FROM embeddings WHERE vec_id < 5),
         |rr AS (SELECT cand.qid, cand.vec_id,
         |              ${Ann.cosMicrosSql("q.fqv", "e.embedding")} AS cm
         |       FROM cand
         |       JOIN q ON q.qid = cand.qid
         |       JOIN embeddings e ON e.vec_id = cand.vec_id),
         |r AS (SELECT qid, vec_id, cm,
         |             row_number() OVER (PARTITION BY qid ORDER BY cm DESC, vec_id) AS rank
         |      FROM rr)
         |SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id, cm / 1e6 AS cos
         |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
    }) { (s, d) =>
      val qz = emb(s, d)
        .withColumn("m", array_max(transform(col("embedding"), x => abs(x.cast("double")))))
        .filter(col("m") > 0)
        .withColumn("qv", transform(col("embedding"),
          x => round(x.cast("double") / col("m") * 127).cast("float")))
        .select(col("vec_id"), col("m"), col("qv"))
      val qs = qz.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("m").as("qm"), col("qv").as("qqv"))
      val scored = qz.join(broadcast(qs), col("vec_id") =!= col("qid"))
        .select(col("qid").as("key"), col("vec_id").as("id"),
          round(lit(1e6) * VecDot.dot(col("qqv"), col("qv"))
            * col("qm") * col("m") / 16129.0).cast("long").as("score"))
      val cand = Ann.topKPerKey(scored, k = 20)
        .select(col("key").as("qid"), col("id").as("vec_id"))
      val fullQ = emb(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("fqv"))
      val rr = emb(s, d).select(col("vec_id"), col("embedding"))
        .join(broadcast(cand), "vec_id")
        .join(broadcast(fullQ), "qid")
        .select(col("qid"), col("vec_id"),
          Ann.cosMicros(col("fqv"), col("embedding")).as("cm"))
      rr.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("cm").desc, col("vec_id"))))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("vec_id"),
          (col("cm") / 1e6).as("cos"))
        .orderBy("qid", "rank")
    },

    Q("q41_lsh_bucket_histogram", {
      val bits = (0 until Ann.LshBits).map { j =>
        s"(CASE WHEN ${Ann.dotSql("embedding", Ann.planeSql(Dim, j))} > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH sig AS (SELECT vec_id, ($bits) AS bucket FROM embeddings),
         |occ AS (SELECT bucket, count(*) AS c FROM sig GROUP BY bucket)
         |SELECT c AS bucket_size, count(*) AS n_buckets
         |FROM occ GROUP BY c ORDER BY c""".stripMargin
    }) { (s, d) =>
      Ann.hyperplaneBuckets(corpus(s, d), Dim)
        .groupBy("bucket").agg(count(lit(1)).as("c"))
        .groupBy(col("c").as("bucket_size")).agg(count(lit(1)).as("n_buckets"))
        .orderBy("bucket_size")
    },

    // ── Per-label embedding centroids (class prototypes — what an IVF
    //    trainer, a few-shot classifier, or a cluster-quality audit
    //    computes first): element-wise mean per label via posexplode →
    //    (label, dim) aggregate. The explode looks expensive but the plan
    //    is the right one at scale: partial aggregation runs MAP-SIDE, so
    //    each task emits at most labels×64 partial rows into the shuffle
    //    — corpus-sized input, centroid-sized exchange, no driver
    //    collect. The float avg is the one order-sensitive step;
    //    micro-rounding at 1e-6 sits ~6 orders of magnitude above the
    //    accumulated double error on unit-scale values, identical in both
    //    engines.
    Q("q135_label_centroids",
      """WITH e AS (SELECT label,
        |                  unnest(embedding) AS v,
        |                  unnest(range(0, len(embedding))) AS pos
        |           FROM embeddings)
        |SELECT label, pos, count(*) AS n_vecs,
        |       round(1e6 * avg(CAST(v AS DOUBLE))) / 1e6 AS centroid
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      emb(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(
          count(lit(1)).as("n_vecs"),
          (round(lit(1e6) * avg(col("v").cast("double"))) / 1e6).as("centroid"))
        .orderBy("label", "pos")
    },

    // ── K-means (Lloyd) centroid training, 3 iterations, k = 10 — the
    //    trainer that turns q40's label-cell stand-in into a real IVF
    //    coarse quantizer. Runs entirely in scaled-integer space
    //    (micro-quantized vectors, integer squared distances, exact
    //    floor(sum/count) centroid updates), so every iteration —
    //    assignment ties, emptied-cell carry-forward, all of it — is
    //    bit-replayed by the oracle's CTE chain. Scale shape per
    //    iteration: centroids broadcast (k rows), corpus streams through
    //    one (g, id)-partitioned argmin window, update is a map-side
    //    partial hash-agg whose shuffle carries ≤ k·dim rows. Output:
    //    the trained codebook, exploded to (cell, pos) grain with final
    //    cell populations.
    Q("q165_kmeans_centroids",
      s"""WITH ${lloydSql(1, Dim, KmeansK, LloydIters)}mfin AS (SELECT g, cell, CAST(count(*) AS BIGINT) AS n_members FROM a$LloydIters GROUP BY 1, 2)
         |SELECT cell, n_members, pos, c FROM (
         |  SELECT cf.cell AS cell, coalesce(m.n_members, 0) AS n_members,
         |         unnest(range(1, len(cf.c) + 1)) AS pos, unnest(cf.c) AS c
         |  FROM c$LloydIters cf LEFT JOIN mfin m ON m.g = cf.g AND m.cell = cf.cell
         |) ORDER BY cell, pos""".stripMargin) { (s, d) =>
      val vecs = Ann.quantized(corpus(s, d))
        .withColumn("g", lit(0L)).select("g", "id", "x")
      trainedCents(s, d, "full", KmeansK, LloydIters)(vecs)
        .select(col("cell"), col("n_members"), posexplode(col("c")))
        .select(col("cell"), col("n_members"),
          (col("pos") + 1).cast("long").as("pos"), col("col").as("c"))
        .orderBy("cell", "pos")
    },

    // ── ANN recall harness over the TRAINED index — q77 re-run with
    //    k-means cells instead of label cells: train (q165's Lloyd loop),
    //    encode every vector to its nearest trained centroid, then
    //    measure IVF (nprobe = 2) recall@10 against the exact brute-force
    //    baseline. The oracle replays the full pipeline — training chain,
    //    integer encode, float micro-rounded cell centroids, probe
    //    routing, both top-10s — so a drift anywhere from the trainer to
    //    the tie-breaks hash-fails. AnnTrainingSpec asserts the trained
    //    index beats the untrained-seed baseline (lloyd iters = 0) on
    //    mean recall — the "measurably above" evidence for the training.
    Q("q166_ann_recall_kmeans", {
      val centTerms = (1 to Dim).map(i =>
        s"round(1e6 * avg(CAST(emb.embedding[$i] AS DOUBLE))) / 1e6").mkString(", ")
      s"""WITH ${lloydSql(1, Dim, KmeansK, LloydIters)}${encSql(Dim, LloydIters)},
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |bs AS (SELECT qid, vec_id, ${Ann.cosMicrosSql("qv", "embedding")} AS cm
         |       FROM q CROSS JOIN embeddings WHERE vec_id <> qid),
         |bt AS (SELECT qid, vec_id FROM (
         |         SELECT qid, vec_id,
         |                row_number() OVER (PARTITION BY qid ORDER BY cm DESC, vec_id) AS r
         |         FROM bs) WHERE r <= 10),
         |cent AS MATERIALIZED (SELECT enc.cell AS cell, list_value($centTerms) AS cvec
         |        FROM embeddings emb JOIN enc ON enc.id = emb.vec_id GROUP BY enc.cell),
         |centf AS (SELECT cell, list_transform(cvec, x -> CAST(x AS FLOAT)) AS cvf FROM cent),
         |probes AS (SELECT qid, cell FROM (
         |    SELECT q.qid, c.cell,
         |           row_number() OVER (PARTITION BY q.qid
         |             ORDER BY ${Ann.cosMicrosSql("q.qv", "c.cvf")} DESC, c.cell) AS r
         |    FROM q CROSS JOIN centf c)
         |  WHERE r <= 2),
         |ivs AS (SELECT p.qid, e2.vec_id, ${Ann.cosMicrosSql("q.qv", "e2.embedding")} AS cm
         |        FROM probes p
         |        JOIN enc ON enc.cell = p.cell
         |        JOIN embeddings e2 ON e2.vec_id = enc.id
         |        JOIN q ON q.qid = p.qid
         |        WHERE e2.vec_id <> p.qid),
         |it AS (SELECT qid, vec_id FROM (
         |         SELECT qid, vec_id,
         |                row_number() OVER (PARTITION BY qid ORDER BY cm DESC, vec_id) AS r
         |         FROM ivs) WHERE r <= 10)
         |SELECT bt.qid,
         |       CAST(count(it.vec_id) AS BIGINT) AS n_hits,
         |       count(it.vec_id) / 10.0 AS recall_at_10
         |FROM bt LEFT JOIN it ON it.qid = bt.qid AND it.vec_id = bt.vec_id
         |GROUP BY bt.qid ORDER BY bt.qid""".stripMargin
    }) { (s, d) =>
      val c = corpus(s, d)
      val vecs = Ann.quantized(c).withColumn("g", lit(0L)).select("g", "id", "x")
      val cents = trainedCents(s, d, "full", KmeansK, LloydIters)(vecs)
      val cells = Ann.assignCells(vecs, cents).select(col("id"), col("cell"))
      val c2 = c.select("id", "vec").join(cells, "id")
      val qs = c2.filter(col("id") < 5).select("id", "vec")
      val bt = Ann.bruteForceTopK(c2, qs, 10).select("qid", "vec_id")
      val it = Ann.ivfTopK(c2, qs, cellCol = "cell", dim = Dim, nprobe = 2, k = 10)
        .select(col("qid"), col("vec_id")).withColumn("hit", lit(1))
      bt.join(it, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(
          count(col("hit")).as("n_hits"),
          (count(col("hit")) / 10.0).as("recall_at_10"))
        .orderBy("qid")
    },

    // ── Product-quantization ANN, end to end — the compression story's
    //    third tier next to int8 (q95/q96): 4 per-subvector codebooks
    //    (16 dims × 16 codewords) trained with the SAME grouped Lloyd
    //    trainer as q165 (g = subvector index), every vector encoded to
    //    4 bytes of codes (64× smaller than the float vectors; int8 is
    //    4×), then two-phase search: asymmetric-distance recall of
    //    top-20 candidates via a per-query lookup table (integer
    //    dot(query-subvector, codeword), summed across the 4 codes — the
    //    classic ADC of Jégou et al.'s IVFADC, as one broadcast hash
    //    join + a 4-row-per-pair hash agg, never a full-vector scan),
    //    and a full-precision cosine rerank of only those candidates
    //    (the q96 pattern). PQ-vs-int8 trade: 16× less candidate-scan IO
    //    at lower stage-1 fidelity — which is why the rerank exists. All
    //    stage-1 arithmetic is exact BIGINT (codebooks and queries in
    //    micro-units), so training, encode, LUT, candidate cut, and
    //    rerank are each bit-replayed by the oracle.
    Q("q167_ann_pq_rerank", {
      s"""WITH ${lloydSql(PqM, PqSub, PqK, PqIters)}${encSql(PqSub, PqIters)},
         |qsub AS (SELECT id AS qid, g, x FROM v WHERE id < 5),
         |lut AS MATERIALIZED (SELECT q.qid, c.g, c.cell,
         |        CAST(list_sum(list_transform(range(1, ${PqSub + 1}), j -> q.x[j] * c.c[j])) AS BIGINT) AS part
         |      FROM qsub q JOIN c$PqIters c ON c.g = q.g),
         |sc AS (SELECT l.qid, en.id AS vec_id, CAST(sum(l.part) AS BIGINT) AS ip
         |       FROM enc en JOIN lut l ON l.g = en.g AND l.cell = en.cell
         |       WHERE en.id <> l.qid GROUP BY 1, 2),
         |cand AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY ip DESC, vec_id) AS rn
         |    FROM sc) WHERE rn <= 20),
         |qf AS (SELECT vec_id AS qid, embedding AS fqv FROM embeddings WHERE vec_id < 5),
         |rr AS (SELECT cand.qid, cand.vec_id,
         |              ${Ann.cosMicrosSql("qf.fqv", "e3.embedding")} AS cm
         |       FROM cand
         |       JOIN qf ON qf.qid = cand.qid
         |       JOIN embeddings e3 ON e3.vec_id = cand.vec_id),
         |r AS (SELECT qid, vec_id, cm,
         |             row_number() OVER (PARTITION BY qid ORDER BY cm DESC, vec_id) AS rank
         |      FROM rr)
         |SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id, cm / 1e6 AS cos
         |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
    }) { (s, d) =>
      val c = corpus(s, d)
      val sub = Ann.quantized(c).select(col("id"), explode(expr(
          s"transform(sequence(0, ${PqM - 1}), g -> struct(CAST(g AS BIGINT) AS g, slice(x, g * $PqSub + 1, $PqSub) AS x))")).as("e"))
        .select(col("e.g").as("g"), col("id"), col("e.x").as("x"))
      val cents = trainedCents(s, d, "pq", PqK, PqIters)(sub)
      val codes = Ann.assignCells(sub, cents)
      val lut = sub.filter(col("id") < 5)
        .select(col("id").as("qid"), col("g"), col("x").as("qx"))
        .join(broadcast(cents.select(col("g"), col("cell"), col("c"))), Seq("g"))
        .select(col("qid"), col("g"), col("cell"),
          graft.functions.VecIntOps.dot(col("qx"), col("c")).as("part"))
      val scored = codes.join(broadcast(lut), Seq("g", "cell"))
        .filter(col("id") =!= col("qid"))
        .groupBy(col("qid"), col("id"))
        .agg(sum("part").cast("long").as("ip"))
      val cand = Ann.topKPerKey(
          scored.select(col("qid").as("key"), col("id"), col("ip").as("score")), k = 20)
        .select(col("key").as("qid"), col("id").as("vec_id"))
      val fullQ = emb(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("fqv"))
      emb(s, d).select(col("vec_id"), col("embedding"))
        .join(broadcast(cand), "vec_id")
        .join(broadcast(fullQ), "qid")
        .select(col("qid"), col("vec_id"),
          Ann.cosMicros(col("fqv"), col("embedding")).as("cm"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("cm").desc, col("vec_id"))))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("vec_id"),
          (col("cm") / 1e6).as("cos"))
        .orderBy("qid", "rank")
    },

    // ── Semantic dedup (SemDeDup): duplicates found by MEANING, not by
    //    text overlap — cluster the embedding corpus with the trained
    //    k-means codebook (q165's Lloyd machinery), then look for
    //    high-cosine pairs only WITHIN each cell and keep the lowest-id
    //    member of every found pair (q36's survivor rule, cosine instead
    //    of Jaccard). The within-cell restriction is the entire scale
    //    story: candidate work is Σ|cell|² instead of n² — at 100 TB k
    //    grows with the corpus so cells stay bounded, and the pair pass
    //    is one equi-join shuffle on the cell id. Cosines ride the exact
    //    micro-quantized integers end-to-end (long dot products, double
    //    only at the final divide), so training, assignment, and every
    //    pair verdict are bit-replayed by the oracle's CTE chain. The
    //    0.4 micro-cos cutoff matches q45/q54's near-dup notion.
    Q("q170_semantic_dedup", {
      s"""WITH ${lloydSql(1, Dim, KmeansK, LloydIters)}${encSql(Dim, LloydIters)},
         |nrm AS MATERIALIZED (SELECT id,
         |        sqrt(CAST(list_sum(list_transform(vfull, x -> x * x)) AS DOUBLE)) AS nm
         |      FROM e),
         |pr AS (SELECT a.id AS ia, b.id AS ib,
         |              round(1e6 * (CAST(list_sum(list_transform(range(1, ${Dim + 1}),
         |                             j -> ea.vfull[j] * eb.vfull[j])) AS DOUBLE)
         |                           / (na.nm * nb.nm))) AS cm
         |       FROM enc a JOIN enc b ON a.cell = b.cell AND a.id < b.id
         |       JOIN e ea ON ea.id = a.id
         |       JOIN e eb ON eb.id = b.id
         |       JOIN nrm na ON na.id = a.id
         |       JOIN nrm nb ON nb.id = b.id),
         |dropped AS (SELECT DISTINCT ib AS id FROM pr WHERE cm >= 400000)
         |SELECT em.label, CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(sum(CASE WHEN dr.id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
         |       CAST(sum(CASE WHEN dr.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM embeddings em LEFT JOIN dropped dr ON dr.id = em.vec_id
         |GROUP BY em.label ORDER BY em.label""".stripMargin
    }) { (s, d) =>
      val vecs = Ann.quantized(corpus(s, d))
        .withColumn("g", lit(0L)).select("g", "id", "x")
      val cents = trainedCents(s, d, "full", KmeansK, LloydIters)(vecs)
      val withVec = Ann.assignCells(vecs, cents)
        .join(vecs.select("id", "x"), "id")
        .withColumn("nm", sqrt(
          graft.functions.VecIntOps.dot(col("x"), col("x")).cast("double")))
      val a = withVec.select(col("cell"), col("id").as("ia"),
        col("x").as("xa"), col("nm").as("na"))
      val b = withVec.select(col("cell"), col("id").as("ib"),
        col("x").as("xb"), col("nm").as("nb"))
      val dropped = a.join(b, Seq("cell"))
        .filter(col("ia") < col("ib"))
        .withColumn("cm", round(lit(1e6) *
          (graft.functions.VecIntOps.dot(col("xa"), col("xb")).cast("double")
            / (col("na") * col("nb")))))
        .filter(col("cm") >= 400000L)
        .select(col("ib").as("vec_id")).distinct()
        .withColumn("dr", lit(1L))
      emb(s, d).join(dropped, Seq("vec_id"), "left")
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(coalesce(col("dr"), lit(0L))).cast("long").as("n_dropped"),
          sum(when(col("dr").isNull, 1L).otherwise(0L)).cast("long").as("n_kept"))
        .orderBy("label")
    },

    // ── Hard-negative mining — the contrastive-training data primitive:
    //    for each query vector, the top-10 most-similar vectors whose
    //    LABEL DIFFERS (similar-looking but semantically wrong — the
    //    negatives a retrieval/embedding model learns the most from).
    //    Same plan shape as q39 (queries broadcast, corpus streams once,
    //    bounded-state two-stage top-k), with the label-mismatch
    //    predicate applied BEFORE scoring so excluded candidates never
    //    reach the dot product. At 100 TB the label filter rides the
    //    scan and the per-query state stays O(k). Determinism: cosine
    //    micro-rounded to BIGINT, ties by vec_id.
    Q("q176_hard_negative_mining",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS q_label
         |           FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT qid, q_label, vec_id, label AS neg_label,
         |             ${Ann.cosMicrosSql("qv", "embedding")} AS cm
         |      FROM q CROSS JOIN embeddings WHERE label <> q_label),
         |r AS (SELECT qid, q_label, vec_id, neg_label, cm,
         |             CAST(row_number() OVER (PARTITION BY qid
         |               ORDER BY cm DESC, vec_id) AS INTEGER) AS rank
         |      FROM s)
         |SELECT qid, rank, vec_id, cm / 1e6 AS cos, q_label, neg_label
         |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      val c = corpus(s, d)
      val q = c.filter(col("id") < 5)
        .select(col("id").as("qid"), col("vec").as("qv"), col("label").as("q_label"))
      val scored = c.select(col("id").as("cid"), col("vec").as("cv"),
          col("label").as("neg_label"))
        .join(broadcast(q), col("neg_label") =!= col("q_label"))
        .select(col("qid").as("key"), col("cid").as("id"),
          Ann.cosMicros(col("qv"), col("cv")).as("score"))
      Ann.topKPerKey(scored, k = 10)
        .select(col("key").as("qid"), col("rank"), col("id").as("vec_id"), col("cos"))
        .join(broadcast(emb(s, d).select(col("vec_id"), col("label").as("neg_label"))),
          "vec_id")
        .join(broadcast(q.select(col("qid"), col("q_label"))), "qid")
        .select("qid", "rank", "vec_id", "cos", "q_label", "neg_label")
        .orderBy("qid", "rank")
    },

    // ── IVFADC proper (Jégou et al., "Product Quantization for Nearest
    //    Neighbor Search") — the two trained indexes composed the way the
    //    paper (and faiss's IndexIVFPQ) does: the q165 coarse quantizer
    //    routes each vector to a cell, PQ codebooks are trained on the
    //    RESIDUALS x − c_cell (not raw vectors — residual energy is what
    //    the 4-byte codes must capture once the cell explains the rest),
    //    and search probes the nprobe=2 nearest coarse cells, scoring
    //    only their members by asymmetric squared-L2 ADC against a
    //    per-(query, probed-cell) LUT built from the QUERY's residual in
    //    that cell, then reranks the top-20 candidates with exact
    //    cosine (q96/q167's two-phase contract). Scale story: candidate
    //    work is the probed cells' population (never the corpus), the
    //    LUT is nprobe·m·k rows broadcast, codes are 4 bytes/vector, and
    //    both trainings are memoized model artifacts. Everything before
    //    the final rerank divide is exact BIGINT in micro space —
    //    training, residuals, LUT, ADC sums, candidate cut — so the
    //    oracle bit-replays the full pipeline through two prefixed Lloyd
    //    CTE chains.
    Q("q178_ivfadc", {
      val qResSub = (0 until PqM).map(g =>
        s"SELECT qid, cell, CAST($g AS BIGINT) AS g, " +
          s"qr[$g * $PqSub + 1 : ${g + 1} * $PqSub] AS x FROM qres")
        .mkString(" UNION ALL ")
      s"""WITH ${lloydSql(1, Dim, KmeansK, LloydIters)}${encSql(Dim, LloydIters)},
         |res AS MATERIALIZED (SELECT e.id, enc.cell AS ccell,
         |        list_transform(range(1, ${Dim + 1}), j -> e.vfull[j] - c.c[j]) AS r
         |      FROM e JOIN enc ON enc.id = e.id
         |      JOIN c$LloydIters c ON c.g = 0 AND c.cell = enc.cell),
         |rv AS MATERIALIZED (SELECT id, g, r[g * $PqSub + 1 : (g + 1) * $PqSub] AS x
         |      FROM res CROSS JOIN (SELECT unnest(range(0, $PqM)) AS g)),
         |${lloydChainSql("p", "rv", PqSub, PqK, PqIters)}${encChainSql("penc", "rv", "pc", PqSub, PqIters)},
         |q AS (SELECT id AS qid, vfull AS qx FROM e WHERE id < 5),
         |probes AS (SELECT qid, cell FROM (
         |    SELECT q.qid, c.cell, row_number() OVER (PARTITION BY q.qid ORDER BY
         |      CAST(list_sum(list_transform(range(1, ${Dim + 1}),
         |        j -> (q.qx[j] - c.c[j]) * (q.qx[j] - c.c[j]))) AS BIGINT), c.cell) AS r
         |    FROM q CROSS JOIN c$LloydIters c) WHERE r <= $IvfNprobe),
         |qres AS MATERIALIZED (SELECT p.qid, p.cell,
         |        list_transform(range(1, ${Dim + 1}), j -> q.qx[j] - c.c[j]) AS qr
         |      FROM probes p JOIN q ON q.qid = p.qid
         |      JOIN c$LloydIters c ON c.g = 0 AND c.cell = p.cell),
         |qrs AS ($qResSub),
         |lut AS MATERIALIZED (SELECT s.qid, s.cell, s.g, c.cell AS pqcell,
         |        CAST(list_sum(list_transform(range(1, ${PqSub + 1}),
         |          j -> (s.x[j] - c.c[j]) * (s.x[j] - c.c[j]))) AS BIGINT) AS part
         |      FROM qrs s JOIN pc$PqIters c ON c.g = s.g),
         |sc AS (SELECT l.qid, pe.id AS vec_id, CAST(sum(l.part) AS BIGINT) AS d2
         |       FROM penc pe
         |       JOIN res ON res.id = pe.id
         |       JOIN lut l ON l.cell = res.ccell AND l.g = pe.g AND l.pqcell = pe.cell
         |       WHERE pe.id <> l.qid GROUP BY 1, 2),
         |cand AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rn
         |    FROM sc) WHERE rn <= 20),
         |qf AS (SELECT vec_id AS qid, embedding AS fqv FROM embeddings WHERE vec_id < 5),
         |rr AS (SELECT cand.qid, cand.vec_id,
         |              ${Ann.cosMicrosSql("qf.fqv", "e3.embedding")} AS cm
         |       FROM cand
         |       JOIN qf ON qf.qid = cand.qid
         |       JOIN embeddings e3 ON e3.vec_id = cand.vec_id),
         |r AS (SELECT qid, vec_id, cm,
         |             row_number() OVER (PARTITION BY qid ORDER BY cm DESC, vec_id) AS rank
         |      FROM rr)
         |SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id, cm / 1e6 AS cos
         |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        graft.functions.VecIntOps.l2(a, b)
      val c = corpus(s, d)
      val vecs = Ann.quantized(c).withColumn("g", lit(0L)).select("g", "id", "x")
      val cents = trainedCents(s, d, "full", KmeansK, LloydIters)(vecs)
      val coarse = cents.select(col("cell").as("ccell"), col("c").as("cc"))
      // residuals against the assigned coarse centroid — exact long math
      val res = Ann.assignCells(vecs, cents)
        .join(vecs.select("id", "x"), "id")
        .withColumnRenamed("cell", "ccell")
        .join(broadcast(coarse), "ccell")
        .select(col("id"), col("ccell"),
          zip_with(col("x"), col("cc"), (a, b) => a - b).as("r"))
      val rsub = res.select(col("id"), explode(expr(
          s"transform(sequence(0, ${PqM - 1}), g -> struct(CAST(g AS BIGINT) AS g, slice(r, g * $PqSub + 1, $PqSub) AS x))")).as("e"))
        .select(col("e.g").as("g"), col("id"), col("e.x").as("x"))
      val pqCents = trainedCents(s, d, "ivfpq-res", PqK, PqIters)(rsub)
      val codes = Ann.assignCells(rsub, pqCents)
      // query side: probe the 2 nearest coarse cells by exact integer L2
      val qs = vecs.filter(col("id") < 5).select(col("id").as("qid"), col("x").as("qx"))
      val probes = qs.crossJoin(broadcast(coarse))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(d2(col("qx"), col("cc")), col("ccell"))))
        .filter(col("rn") <= IvfNprobe)
        .select(col("qid"), col("ccell"),
          zip_with(col("qx"), col("cc"), (a, b) => a - b).as("qr"))
      // per-(query, probed cell) ADC lookup table: nprobe·m·k rows
      val lut = probes.select(col("qid"), col("ccell"), explode(expr(
          s"transform(sequence(0, ${PqM - 1}), g -> struct(CAST(g AS BIGINT) AS g, slice(qr, g * $PqSub + 1, $PqSub) AS x))")).as("e"))
        .select(col("qid"), col("ccell"), col("e.g").as("g"), col("e.x").as("qsr"))
        .join(broadcast(pqCents.select(col("g"), col("cell").as("pqcell"), col("c"))), Seq("g"))
        .select(col("qid"), col("ccell"), col("g"), col("pqcell"),
          d2(col("qsr"), col("c")).as("part"))
      val lutR = lut.select(col("qid"), col("ccell").as("lcell"),
        col("g").as("lg"), col("pqcell"), col("part"))
      val scored = codes
        .join(res.select("id", "ccell"), "id")
        .join(broadcast(lutR),
          col("ccell") === col("lcell") && col("g") === col("lg") &&
            col("cell") === col("pqcell"))
        .filter(col("id") =!= col("qid"))
        .groupBy(col("qid"), col("id"))
        .agg(sum("part").cast("long").as("d2adc"))
      val cand = Ann.topKPerKey(
          scored.select(col("qid").as("key"), col("id"), (-col("d2adc")).as("score")), k = 20)
        .select(col("key").as("qid"), col("id").as("vec_id"))
      val fullQ = emb(s, d).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("fqv"))
      emb(s, d).select(col("vec_id"), col("embedding"))
        .join(broadcast(cand), "vec_id")
        .join(broadcast(fullQ), "qid")
        .select(col("qid"), col("vec_id"),
          Ann.cosMicros(col("fqv"), col("embedding")).as("cm"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("qid").orderBy(col("cm").desc, col("vec_id"))))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("vec_id"), (col("cm") / 1e6).as("cos"))
        .orderBy("qid", "rank")
    },

    // ── Retrieval-quality eval harness — the metric layer every index in
    //    the ladder is judged by: NDCG@10 and MRR of the trained-IVF
    //    ranking (q166's index) against the exact brute-force top-10 as
    //    binary relevance. Position gains and reciprocal ranks are
    //    PRECOMPUTED integer micro-weights emitted as literals into both
    //    engines (NdcgW/MrrW above), so neither engine's log2 is in the
    //    replay path: DCG/IDCG/MRR are exact integer sums with one final
    //    IEEE divide each. Scale: metrics ride the eval slice (queries ×
    //    k rows), never the corpus — this is the query you run on every
    //    index build to catch silent retrieval regressions.
    Q("q179_retrieval_metrics", {
      val centTerms = (1 to Dim).map(i =>
        s"round(1e6 * avg(CAST(emb.embedding[$i] AS DOUBLE))) / 1e6").mkString(", ")
      val dcgCase = (1 to 10).map(i => s"WHEN $i THEN ${NdcgW(i - 1)}").mkString(" ")
      val mrrCase = (1 to 10).map(i => s"WHEN $i THEN ${MrrW(i - 1)}").mkString(" ")
      s"""WITH ${lloydSql(1, Dim, KmeansK, LloydIters)}${encSql(Dim, LloydIters)},
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |bs AS (SELECT qid, vec_id, ${Ann.cosMicrosSql("qv", "embedding")} AS cm
         |       FROM q CROSS JOIN embeddings WHERE vec_id <> qid),
         |bt AS (SELECT qid, vec_id FROM (
         |         SELECT qid, vec_id,
         |                row_number() OVER (PARTITION BY qid ORDER BY cm DESC, vec_id) AS r
         |         FROM bs) WHERE r <= 10),
         |cent AS MATERIALIZED (SELECT enc.cell AS cell, list_value($centTerms) AS cvec
         |        FROM embeddings emb JOIN enc ON enc.id = emb.vec_id GROUP BY enc.cell),
         |centf AS (SELECT cell, list_transform(cvec, x -> CAST(x AS FLOAT)) AS cvf FROM cent),
         |probes AS (SELECT qid, cell FROM (
         |    SELECT q.qid, c.cell,
         |           row_number() OVER (PARTITION BY q.qid
         |             ORDER BY ${Ann.cosMicrosSql("q.qv", "c.cvf")} DESC, c.cell) AS r
         |    FROM q CROSS JOIN centf c)
         |  WHERE r <= 2),
         |ivs AS (SELECT p.qid, e2.vec_id, ${Ann.cosMicrosSql("q.qv", "e2.embedding")} AS cm
         |        FROM probes p
         |        JOIN enc ON enc.cell = p.cell
         |        JOIN embeddings e2 ON e2.vec_id = enc.id
         |        JOIN q ON q.qid = p.qid
         |        WHERE e2.vec_id <> p.qid),
         |it AS (SELECT qid, vec_id, r FROM (
         |         SELECT qid, vec_id,
         |                row_number() OVER (PARTITION BY qid ORDER BY cm DESC, vec_id) AS r
         |         FROM ivs) WHERE r <= 10),
         |j AS (SELECT it.qid, it.r FROM it
         |      JOIN bt ON bt.qid = it.qid AND bt.vec_id = it.vec_id),
         |m AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_hits,
         |             CAST(sum(CASE r $dcgCase END) AS BIGINT) AS dcg,
         |             min(r) AS minr
         |      FROM j GROUP BY qid)
         |SELECT q.qid, coalesce(m.n_hits, 0) AS n_hits,
         |       round(1e6 * coalesce(m.dcg, 0) / $NdcgIdeal) / 1e6 AS ndcg_at_10,
         |       coalesce(CASE m.minr $mrrCase END, 0) / 1e6 AS mrr
         |FROM q LEFT JOIN m ON m.qid = q.qid ORDER BY q.qid""".stripMargin
    }) { (s, d) =>
      val c = corpus(s, d)
      val vecs = Ann.quantized(c).withColumn("g", lit(0L)).select("g", "id", "x")
      val cents = trainedCents(s, d, "full", KmeansK, LloydIters)(vecs)
      val cells = Ann.assignCells(vecs, cents).select(col("id"), col("cell"))
      val c2 = c.select("id", "vec").join(cells, "id")
      val qs = c2.filter(col("id") < 5).select("id", "vec")
      val bt = Ann.bruteForceTopK(c2, qs, 10).select("qid", "vec_id")
      val it = Ann.ivfTopK(c2, qs, cellCol = "cell", dim = Dim, nprobe = 2, k = 10)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("r"))
      val wArr = array(NdcgW.map(lit): _*)
      val mArr = array(MrrW.map(lit): _*)
      val m = it.join(bt, Seq("qid", "vec_id"))
        .groupBy("qid")
        .agg(count(lit(1)).as("n_hits"),
          sum(element_at(wArr, col("r").cast("int"))).cast("long").as("dcg"),
          min("r").as("minr"))
      qs.select(col("id").as("qid")).distinct()
        .join(m, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (round(lit(1e6) * coalesce(col("dcg"), lit(0L)) / NdcgIdeal) / 1e6).as("ndcg_at_10"),
          (coalesce(element_at(mArr, col("minr").cast("int")), lit(0L)) / 1e6).as("mrr"))
        .orderBy("qid")
    },

    // ── ANN index refresh audit — the production lifecycle question q166
    //    never asks: an index is trained on yesterday's corpus, today's
    //    batch arrives, and you do NOT retrain — new vectors are assigned
    //    to the FROZEN centroids and the audit reports how the batch
    //    lands across cells. A skewed batch_share is the retrain signal
    //    (the index's partition of space no longer matches the data).
    //    Training runs on the corpus slice only (vec_id < 0.8·max — the
    //    q161 split idiom), memoized like every codebook; the batch
    //    never influences the centroids, which is the point. Scale: one
    //    broadcast-centroid assignment pass over each slice, one k-row
    //    output — the audit is free next to the index it guards.
    Q("q180_ann_index_refresh",
      s"""WITH e AS MATERIALIZED (SELECT vec_id AS id,
         |        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS vfull
         |      FROM embeddings),
         |thr AS (SELECT CAST(floor(0.8 * max(vec_id)) AS BIGINT) AS v FROM embeddings),
         |vc AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS g, vfull AS x
         |      FROM e WHERE id < (SELECT v FROM thr)),
         |${lloydChainSql("f", "vc", Dim, KmeansK, LloydIters)}va AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS g, vfull AS x FROM e),
         |${encChainSql("fenc", "va", "fc", Dim, LloydIters)},
         |m AS (SELECT cell,
         |             CAST(sum(CASE WHEN id < (SELECT v FROM thr) THEN 1 ELSE 0 END) AS BIGINT) AS n_corpus,
         |             CAST(sum(CASE WHEN id >= (SELECT v FROM thr) THEN 1 ELSE 0 END) AS BIGINT) AS n_batch
         |      FROM fenc GROUP BY cell)
         |SELECT c.cell, coalesce(m.n_corpus, 0) AS n_corpus,
         |       coalesce(m.n_batch, 0) AS n_batch,
         |       round(1e6 * coalesce(m.n_batch, 0)
         |             / greatest(coalesce(m.n_corpus, 0) + coalesce(m.n_batch, 0), 1)) / 1e6
         |         AS batch_share
         |FROM (SELECT DISTINCT cell FROM fc$LloydIters) c
         |LEFT JOIN m ON m.cell = c.cell
         |ORDER BY c.cell""".stripMargin) { (s, d) =>
      val all = Ann.quantized(corpus(s, d))
        .withColumn("g", lit(0L)).select("g", "id", "x")
      val thr = emb(s, d).agg(floor(max("vec_id") * 0.8).cast("long").as("thr"))
      val corpusVecs = all.crossJoin(broadcast(thr))
        .filter(col("id") < col("thr")).drop("thr")
      val cents = trainedCents(s, d, "refresh-corpus", KmeansK, LloydIters)(corpusVecs)
      val m = Ann.assignCells(all, cents)
        .crossJoin(broadcast(thr))
        .groupBy("cell")
        .agg(sum(when(col("id") < col("thr"), 1L).otherwise(0L)).cast("long").as("n_corpus"),
          sum(when(col("id") >= col("thr"), 1L).otherwise(0L)).cast("long").as("n_batch"))
      cents.select("cell").distinct()
        .join(m, Seq("cell"), "left")
        .select(col("cell"),
          coalesce(col("n_corpus"), lit(0L)).as("n_corpus"),
          coalesce(col("n_batch"), lit(0L)).as("n_batch"),
          (round(lit(1e6) * coalesce(col("n_batch"), lit(0L)) /
            greatest(coalesce(col("n_corpus"), lit(0L)) + coalesce(col("n_batch"), lit(0L)),
              lit(1L))) / 1e6).as("batch_share"))
        .orderBy("cell")
    },

    // ── Semantic split leakage — q172's audit lifted from token space to
    //    embedding space: near-identical EMBEDDINGS (banded sign-LSH
    //    candidates + exact cosine ≥ 0.4 verify, the q54 machinery)
    //    crossing the deterministic train/val/test split. Token-level
    //    dedup misses paraphrases and translations; cosine-near pairs
    //    straddling train|test are exactly the eval contamination a
    //    semantic dedup pass exists to prevent. Scale: the pair relation
    //    is duplicate-sized, split assignment is a map-side md5, the two
    //    id joins are hash joins — identical plan shape at any corpus
    //    size. Oracle: the identical banded algorithm replayed (q54's
    //    recall-trade documentation applies verbatim).
    Q("q193_semantic_leakage", {
      val bits = (0 until Ann.LshBits).map { j =>
        s"(CASE WHEN ${Ann.dotSql("embedding", Ann.planeSql(Dim, j))} > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      val bandBits = Ann.LshBits / Ann.LshBands
      s"""WITH sig AS (SELECT vec_id, ($bits) AS bucket FROM embeddings),
         |b AS (SELECT vec_id, band, (bucket >> (band * $bandBits)) & ${(1 << bandBits) - 1} AS key
         |      FROM sig CROSS JOIN (SELECT unnest([${(0 until Ann.LshBands).mkString(", ")}]) AS band)),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
         |         FROM b a JOIN b b2
         |           ON a.band = b2.band AND a.key = b2.key AND a.vec_id < b2.vec_id),
         |p AS (SELECT c.vec_a, c.vec_b,
         |             ${Ann.cosMicrosSql("ea.embedding", "eb.embedding")} AS cm
         |      FROM cand c
         |      JOIN embeddings ea ON ea.vec_id = c.vec_a
         |      JOIN embeddings eb ON eb.vec_id = c.vec_b),
         |sp AS (SELECT vec_id,
         |              CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |                   ELSE 'test' END AS split
         |       FROM (SELECT vec_id,
         |                    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS b
         |             FROM embeddings))
         |SELECT least(sa.split, sb.split) AS split_a,
         |       greatest(sa.split, sb.split) AS split_b,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       max(p.cm) / 1e6 AS max_cos
         |FROM p JOIN sp sa ON sa.vec_id = p.vec_a
         |       JOIN sp sb ON sb.vec_id = p.vec_b
         |WHERE p.cm >= 400000
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }) { (s, d) =>
      def split(idAs: String, splitAs: String) = emb(s, d).select(
        col("vec_id").as(idAs),
        when(conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 100 < 80, "train")
          .when(conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10)
            .cast("long") % 100 < 90, "val")
          .otherwise("test").as(splitAs))
      Ann.lshNearDupPairsCkpt(corpus(s, d), Dim, 400000L)
        .join(split("vec_a", "sa"), "vec_a")
        .join(split("vec_b", "sb"), "vec_b")
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"), col("cm"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_pairs"), (max("cm") / 1e6).as("max_cos"))
        .orderBy("split_a", "split_b")
    }
  )
}
