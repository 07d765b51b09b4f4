package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** MinHash/LSH, SimHash, and exact-dedup operator semantics on controlled
  * inputs plus the real documents table. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsOf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("shingles: n-gram count, distinctness, and short-doc guard") {
    val out = TextOps.shingles(TextOps.tokens(lit("a b c d")), 3)
    val got = spark.range(1).select(out.as("s")).collect()(0).getSeq[String](0)
    assert(got == Seq("a b c", "b c d"))
    val short = spark.range(1)
      .select(TextOps.shingles(TextOps.tokens(lit("a b")), 3).as("s"))
      .collect()(0).getSeq[String](0)
    assert(short.isEmpty)
  }

  test("identical docs share a full MinHash signature; disjoint docs share ~none") {
    val d = docsOf(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words about spark catalyst tungsten execution"))
    val sigs = Dedup.minhashSignatures(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    val agree = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(agree < Dedup.NumHashes / 4, s"disjoint docs agreed on $agree/128 hashes")
  }

  test("nearDupPairs finds exact copies and respects the threshold") {
    val d = docsOf(
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val pairs = Dedup.nearDupPairs(d, 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getDouble(2) == 1.0)
  }

  test("LSH recall is exact on the real corpus: candidates ⊇ all-pairs >= 0.5") {
    val docs = graft.model.Tables.documents(spark, TestSpark.Sf)
    val sets = Dedup.shingleSets(docs).persist()
    val exact = Dedup.verifiedJaccard(
      sets.select(col("doc_id").as("doc_a")).crossJoin(sets.select(col("doc_id").as("doc_b")))
        .filter(col("doc_a") < col("doc_b")),
      sets).filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.nearDupPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, "bucketed LSH must equal all-pairs at this margin")
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
  }

  test("nearDedup keeps the lowest doc_id of each near-dup cluster") {
    val d = docsOf(
      (5L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"),
      (9L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val kept = Dedup.nearDedup(d, 0.5).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 9L))
  }

  test("exactDedup collapses identical content and counts copies") {
    val d = docsOf(
      (1L, "same text"), (7L, "same text"), (3L, "same text"), (4L, "other"))
      .withColumn("lang", lit("en"))
    val out = Dedup.exactDedup(d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_copies"))).toMap
    assert(out == Map(1L -> 3L, 4L -> 1L))
  }

  test("connectedComponents labels a star with its minimum; chain collapses too") {
    // star 5—2, 5—3 plus chain 10—11, 11—12 plus isolated pair 20—21
    val pairs = Seq((2L, 5L), (3L, 5L), (10L, 11L), (11L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(
      2L -> 2L, 3L -> 2L, 5L -> 2L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("large-star/small-star CC equals label propagation on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 6 + rnd.nextInt(12)
      val nEdges = 1 + rnd.nextInt(2 * n)
      val pairs = Seq.fill(nEdges) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      if (pairs.nonEmpty) {
        val df = pairs.toDF("doc_a", "doc_b")
        val simple = Dedup.connectedComponents(df).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val logn = Dedup.connectedComponentsLogN(df).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(logn == simple, s"trial $trial (n=$n, edges=$pairs) diverged")
      }
    }
    // the adversarial case for propagation: one long chain (diameter = n)
    val chain = (0L until 10L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponentsLogN(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 10L).map(_ -> 0L).toMap)
  }

  test("nearDedupCC collapses transitive clusters the pairwise policy keeps") {
    // star: 2≈5 and 3≈5, but 2 and 3 share nothing — the pairwise
    // keep-lowest-id policy keeps BOTH 2 and 3 (neither is a doc_b);
    // connected components keeps only the cluster minimum 2.
    val docs = docsOf(
      (2L, "one two three four five six seven eight nine ten eleven twelve"),
      (3L, "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"),
      (5L, "one two three four five six seven eight nine ten " +
           "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"),
      (9L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val pairs = Dedup.nearDupPairs(docs, 0.4).persist()
    val got = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 5L), (3L, 5L)), s"planted star not detected: $got")
    val pairwise = Dedup.nearDedup(docs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val transitive = Dedup.nearDedupCC(docs, pairs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(pairwise == Set(2L, 3L, 9L), "pairwise keeps both star leaves")
    assert(transitive == Set(2L, 9L), "clustering keeps only the component minimum")
  }

  test("nearDupPairsCkpt re-reads for the same corpus, recomputes when the content changes") {
    val d = docsOf(
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"))
    val first = Dedup.nearDupPairsCkpt(d, 0.5).collect()
    // same corpus + same key ⇒ the checkpointed relation is served again
    val again = Dedup.nearDupPairsCkpt(d, 0.5).collect()
    assert(first.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(again.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // a DIFFERENT corpus under the same caller key must NOT serve stale
    // pairs: the content fingerprint in the checkpoint identity forces a
    // recompute (here: an empty corpus ⇒ empty pair relation)
    val changed = Dedup.nearDupPairsCkpt(d.filter(lit(false)), 0.5).collect()
    assert(changed.isEmpty, "regenerated corpus under the same key must recompute")
  }

  /** The case fixed-chunk dedup (q181) structurally misses: a 40-token
    * boilerplate block straddling the 64-token chunk boundary in one doc
    * and sitting at a different alignment in the other — no 64-token
    * chunk is ever equal, but repeatedSpans must recover the exact span
    * in both docs, maximal (not split, not extended). */
  test("repeatedSpans catches boundary-straddling boilerplate fixed chunks miss") {
    val boiler = (0 until 40).map(i => s"boiler$i")
    // doc 1: 50 unique fillers, boilerplate at 0-based 50..89, 10 more fillers
    val d1 = ((0 until 50).map(i => s"one$i") ++ boiler ++ (0 until 10).map(i => s"tail$i")).mkString(" ")
    // doc 2: boilerplate at 0-based 10..49 amid different unique fillers
    val d2 = ((0 until 10).map(i => s"two$i") ++ boiler ++ (0 until 50).map(i => s"other$i")).mkString(" ")
    val d = docsOf((1L, d1), (2L, d2))

    // q181-style aligned 64-token chunk fingerprints share NOTHING
    val chunkFps = d
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(split(text, ' ')), 64), st -> md5(array_join(slice(split(text, ' '), st, 64), ' ')))")).as("fp"))
    val shared = chunkFps.alias("a").join(chunkFps.alias("b"),
      col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id")).count()
    assert(shared == 0L, "aligned chunks must NOT detect the straddling repeat")

    val spans = Dedup.repeatedSpans(d, n = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(spans.length == 2, s"exactly one maximal span per doc, got ${spans.toSeq}")
    val byDoc = spans.map(s => s._1 -> s).toMap
    assert(byDoc(1L)._2 == 51L && byDoc(1L)._3 == 40L, s"doc1 span wrong: ${byDoc(1L)}")
    assert(byDoc(2L)._2 == 11L && byDoc(2L)._3 == 40L, s"doc2 span wrong: ${byDoc(2L)}")
    assert(byDoc(1L)._4 == byDoc(2L)._4, "equal spans must share the span_md5")
  }

  test("repeatedSpans: intra-document repeats count, sub-n repeats don't") {
    val rep = (0 until 20).map(i => s"r$i")
    // the 20-token block occurs twice INSIDE one doc; a 10-token block
    // (sub-n) repeats across docs and must be invisible at n=16
    val small = (0 until 10).map(i => s"s$i")
    val d = docsOf(
      (1L, (rep ++ (0 until 30).map(i => s"mid$i") ++ rep).mkString(" ")),
      (2L, (small ++ (0 until 40).map(i => s"pad$i")).mkString(" ")),
      (3L, ((0 until 40).map(i => s"alt$i") ++ small).mkString(" ")))
    val spans = Dedup.repeatedSpans(d, n = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.toSet == Set((1L, 1L, 20L), (1L, 51L, 20L)),
      s"expected the two intra-doc occurrences only, got ${spans.toSeq}")
  }

  test("window_hashes: rolling values equal direct per-window polynomials, equal windows collide") {
    val out = spark.range(1)
      .select(graft.functions.WindowHashes.of(lit("a b c a b c d"), 3).as("h"))
      .collect()(0).getSeq[Long](0)
    assert(out.length == 5, "7 tokens, n=3 → 5 windows")
    assert(out(0) == out(3), "equal windows 'a b c' must hash equal")
    assert(Set(out: _*).size == 4, "the 4 distinct windows should (here) hash distinct")
    val short = spark.range(1)
      .select(graft.functions.WindowHashes.of(lit("a b"), 3).as("h"))
      .collect()(0).getSeq[Long](0)
    assert(short.isEmpty, "doc shorter than n has no windows")
  }

  test("simhash: identical docs collide at hamming 0") {
    val d = docsOf(
      (1L, "spark spark catalyst tungsten codegen shuffle"),
      (2L, "spark spark catalyst tungsten codegen shuffle"),
      (3L, "entirely unrelated vocabulary for the third document here"))
    val pairs = Dedup.simhashPairs(d, 1).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getInt(2) == 0))
  }

  test("crossSpans reports only train↔eval overlap, never train↔train repeats") {
    val leak = (0 until 20).map(i => s"leak$i")
    val trainOnly = (0 until 20).map(i => s"dup$i")
    // doc 1 is EVAL (id < 10); docs 11/12 are TRAIN: 11 shares the leak
    // with eval, 11 and 12 share a train-only block that must NOT count.
    val d = docsOf(
      (1L, ((0 until 16).map(i => s"e$i") ++ leak).mkString(" ")),
      (11L, (trainOnly ++ (0 until 3).map(i => s"a$i") ++ leak).mkString(" ")),
      (12L, (trainOnly ++ (0 until 20).map(i => s"b$i")).mkString(" ")))
    val out = Dedup.crossSpans(d, n = 16, evalBound = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((11L, 1L, 20L, 20L)),
      s"exactly doc 11's 20-token leak, nothing from the train-only dup: ${out.toSeq}")
  }
}
