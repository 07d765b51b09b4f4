package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}
import graft.llm.Dedup

/** Semantics of the model-driven curation layer (q189-q192): the Gopher
  * repetition fractions, the naive-Bayes quality classifier's separation
  * on a corpus with known signal, DSIR's target-likeness ranking, and the
  * quality-aware survivor policy vs the keep-min baseline. */
class CorpusModelsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ── q189: per-doc repetition fractions ─────────────────────────────

  private def gopherRow(text: String): (Long, Long) = {
    val df = Seq((text, text.length.toLong)).toDF("text", "n_chars")
    val toks = split(col("text"), " ")
    val r = df.select(
      CorpusModels.topGramPpm(CorpusModels.grams(toks, 2), col("n_chars")).as("top2"),
      CorpusModels.dupGramPpm(CorpusModels.grams(toks, 3), col("n_chars")).as("dup3"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  test("q189: a template-spam doc scores far above a diverse doc on both fractions") {
    val (spamTop2, spamDup3) = gopherRow(("buy now " * 16).trim)
    val (okTop2, okDup3) = gopherRow("the quick brown fox jumps over a lazy dog near riverbank")
    assert(spamTop2 > 500000L, s"all-repeat doc must have most chars in its top bigram: $spamTop2")
    assert(spamDup3 > 500000L, s"all-repeat doc must be mostly duplicated trigrams: $spamDup3")
    assert(okTop2 < 300000L && okDup3 == 0L,
      s"all-distinct doc must carry no duplicated trigram mass: top2=$okTop2 dup3=$okDup3")
  }

  test("q189: dup fraction is capped at 1e6 ppm even though overlapping grams double-count") {
    val (_, dup3) = gopherRow("a a a a a a a a a a a a a a a a")
    assert(dup3 == 1000000L, s"cap must bind: $dup3")
  }

  test("q189: the gate splits the real corpus (some docs pass, some fail)") {
    val out = SparkEntry
      .queries("q189_gopher_repetition")(spark, TestSpark.Sf)
      .agg(sum("n_docs").cast("long").as("d"), sum("n_pass").cast("long").as("p")).head()
    val (d, p) = (out.getLong(0), out.getLong(1))
    assert(p > 0 && p < d, s"thresholds must split the corpus, got $p pass of $d")
  }

  // ── q190: NB classifier separates a corpus with real signal ────────

  test("q190: curated-vocabulary docs score positive log-odds, crawl docs negative") {
    val docsDf = (
      (0 until 8).map(i => (i.toLong, "cur", "alpha beta gamma alpha beta")) ++
      (8 until 16).map(i => (i.toLong, "web", "zig zag zot zig zag"))
    ).toDF("doc_id", "source", "text")
    val scored = CorpusModels.nbLogOdds(docsDf, Seq("cur"))
      .collect().map(r => (r.getBoolean(1), r.getDouble(2)))
    assert(scored.length == 16)
    scored.foreach { case (isCur, odds) =>
      assert(isCur == (odds > 0),
        s"NB must separate disjoint vocabularies: is_curated=$isCur log_odds=$odds")
    }
  }

  test("q190: log-odds are micro-exact (1e-6 resolution, no float-sum drift)") {
    val out = SparkEntry.queries("q190_nb_quality_classifier")(spark, TestSpark.Sf)
    out.select("log_odds").collect().foreach { r =>
      val v = r.getDouble(0) * 1e6
      assert(math.abs(v - math.rint(v)) < 1e-3, s"non-integral micro log-odds: ${r.getDouble(0)}")
    }
  }

  // ── q191: DSIR importance ranks target-like docs first ─────────────

  test("q191: a doc written in the target distribution outranks an off-target doc") {
    val docsDf = (
      (0 until 10).map(i => (i.toLong, "en", "data table scan join data table")) ++
      (10 until 20).map(i => (i.toLong, "de", "und der das ein und der")) ++
      // probe docs, both labeled 'fr' so the label cannot explain the rank
      Seq((20L, "fr", "data table scan join data table"),
          (21L, "fr", "und der das ein und der"))
    ).toDF("doc_id", "lang", "text")
    val imp = CorpusModels.dsirImportance(docsDf, "en")
      .filter(col("doc_id") >= 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(imp(20L) > imp(21L),
      s"en-profile probe must outrank de-profile probe: ${imp(20L)} vs ${imp(21L)}")
  }

  // ── q192: quality-aware survivorship vs keep-min baseline ──────────

  test("q192: one survivor per cluster, argmax quality, singletons kept") {
    val docsDf = graft.model.Tables.documents(spark, TestSpark.Sf)
    val pairs = Dedup.nearDupPairsCkpt(docsDf, LlmPipeline.JaccardThreshold)
      .filter(col("jaccard") >= LlmPipeline.JaccardThreshold)
    val surv = CorpusModels.qualitySurvivors(docsDf, pairs).cache()
    val labels = Dedup.connectedComponentsLogN(pairs)

    val nDocs = docsDf.count()
    val nPaired = labels.count()
    val nClusters = labels.select("component").distinct().count()
    // survivors = clusters + unpaired singletons
    assert(surv.count() == nDocs - nPaired + nClusters,
      "survivor count must equal cluster count plus singletons")

    // within every cluster the survivor carries the cluster-max quality
    val qp = docsDf.select(col("doc_id"),
      round(lit(1e6) * graft.llm.TextOps.qualityScore(
        graft.llm.TextOps.tokens(col("text")), col("n_chars"))).cast("long").as("qp"))
    val clusterMax = labels.join(qp, "doc_id")
      .groupBy("component").agg(max("qp").as("mx"))
    val bad = surv.join(clusterMax, "component")
      .filter(col("qp") =!= col("mx")).count()
    assert(bad == 0, s"$bad clusters kept a non-maximal-quality survivor")

    // and the policy never yields lower total survivor quality than keep-min
    val keepMinQ = labels.groupBy("component").agg(min("doc_id").as("doc_id"))
      .join(qp, "doc_id").agg(sum("qp")).head().getLong(0)
    val qualQ = surv.join(labels.select(col("doc_id"), lit(1).as("paired")), Seq("doc_id"))
      .agg(sum("qp")).head().getLong(0)
    assert(qualQ >= keepMinQ,
      s"quality-aware survivors must not lose to keep-min: $qualQ vs $keepMinQ")
    surv.unpersist()
  }

  // ── q193: semantic leakage is an exact re-bucketing of the q54 pairs ─

  test("q193: split-combo pair counts sum to the full embedding near-dup pair count") {
    val corpus = graft.model.Tables.embeddings(spark, TestSpark.Sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val nPairs = graft.llm.Ann.lshNearDupPairs(corpus, 64, 400000L).count()
    val byCombo = SparkEntry.queries("q193_semantic_leakage")(spark, TestSpark.Sf)
      .agg(sum("n_pairs")).head().getLong(0)
    assert(byCombo == nPairs,
      s"split bucketing must partition the pair relation: $byCombo vs $nPairs")
  }

  // ── q194: epoch shuffle determinism and re-shuffle across epochs ────

  test("q194: shards partition the corpus; same salt replays, new salt permutes") {
    val docsDf = graft.model.Tables.documents(spark, TestSpark.Sf)
    val n = docsDf.count()
    val e7a = CorpusModels.epochShards(docsDf, "epoch7:", 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(4))).sortBy(_._1)
    val e7b = CorpusModels.epochShards(docsDf, "epoch7:", 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(4))).sortBy(_._1)
    val e8 = CorpusModels.epochShards(docsDf, "epoch8:", 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(4))).sortBy(_._1)
    assert(e7a.map(_._2).sum == n, "every doc lands in exactly one shard")
    assert(e7a.sameElements(e7b), "identical salt must replay byte-identically")
    assert(e7a.map(_._3).toSeq != e8.map(_._3).toSeq,
      "a new epoch salt must produce a different permutation")
    assert(e8.map(_._2).sum == n, "reshuffle preserves the corpus")
  }
}
