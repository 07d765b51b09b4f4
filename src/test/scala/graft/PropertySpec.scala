package graft

import org.scalacheck.{Gen, Prop, Properties}

/** Pure-logic properties (ScalaCheck native runner). Spark-evaluated
  * generator-driven checks live in [[GeneratedDataSpec]] — one job over a
  * generated batch instead of one job per sample. */
object PureProperties extends Properties("graft.pure") {

  property("incremental bound adds exactly one second") = Prop.forAll(
    Gen.choose(0L, 4102444800000L)) { millis =>
    val ts = new java.sql.Timestamp((millis / 1000) * 1000)
    val inc = new graft.incremental.Incremental(java.nio.file.Paths.get("/tmp/unused"))
    inc.adjustedBound(ts).getTime == ts.getTime + 1000
  }

  property("multimodal decode stub is deterministic and order-preserving") = Prop.forAll(
    Gen.listOfN(20, Gen.alphaNumStr.suchThat(_.nonEmpty))) { payloads =>
    val recs = payloads.zipWithIndex.map { case (p, i) =>
      graft.llm.Multimodal.MediaRecord(i.toLong, "s", p.getBytes)
    }
    val a = graft.llm.Multimodal.DecodeStub.decodeBatch(recs)
    val b = graft.llm.Multimodal.DecodeStub.decodeBatch(recs)
    a.map(_.checksum) == b.map(_.checksum) && a.map(_.doc_id) == recs.map(_.doc_id)
  }

  // Conservativeness of the partition-guard rule reduces to monotonicity
  // of the micros→day conversion: t >= bound implies day(t) >= day(bound)
  // (then the (year,month,day) tuple guard is implied by the ts
  // predicate). Range spans pre-epoch to year ~4100 — truncating division
  // instead of floorDiv would fail the negative half.
  property("partition-guard day conversion is monotone") = Prop.forAll(
    Gen.choose(-2208988800000000L, 67253817600000000L),
    Gen.choose(-2208988800000000L, 67253817600000000L)) { (a, b) =>
    val (lo, hi) = (math.min(a, b), math.max(a, b))
    val z = java.time.ZoneOffset.UTC
    !graft.plans.DerivePartitionGuards.day(lo, z)
      .isAfter(graft.plans.DerivePartitionGuards.day(hi, z))
  }

  property("report HTML always renders a full document") = Prop.forAll(
    Gen.choose(0L, 1000L), Gen.choose(0.0, 1e6)) { (n, rev) =>
    val m = graft.report.Report.ReportMetrics(
      "2024-01-01", rev, n, if (n == 0) 0 else rev / n,
      "b", rev, "w", 0.0, rev * 0.02, rev * 0.98, Nil, Nil)
    val html = graft.report.Report.renderHtml(m)
    html.startsWith("<!DOCTYPE html>") && html.contains("</html>")
  }

  // The file-skipping safety invariant: pruning drops a file ONLY when no
  // row can match. Equivalently, for a file whose stats are its TRUE
  // min/max, any file containing a matching row must survive mayMatch —
  // over random value sets and random (open or closed) range bounds,
  // numeric and lexical both.
  property("file-stats range pruning never drops a file containing a match (numeric)") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(-10000L, 10000L)),
      Gen.option(Gen.choose(-10000L, 10000L)),
      Gen.option(Gen.choose(-10000L, 10000L))) { (vals, lo, hi) =>
      val stats = Map("c" -> graft.etl.FileStats.ColRange(
        vals.min.toString, vals.max.toString, numeric = true))
      val preds = Seq(graft.etl.FileStats.Range(
        "c", lo.map(_.toString), hi.map(_.toString)))
      val hasMatch = vals.exists(v => lo.forall(v >= _) && hi.forall(v <= _))
      !hasMatch || graft.etl.FileStats.mayMatch(stats, preds)
    }

  // "Matches" is judged under UTF-8 unsigned-byte order — the ordering
  // parquet footers compute min/max under and Spark/DuckDB compare
  // strings under. The alphabet deliberately mixes ASCII with U+E000
  // (private use, max-sorting in UTF-16) and a supplementary-plane code
  // point (U+1F600, surrogate pair — sorts BELOW U+E000 in UTF-16 but
  // ABOVE it in UTF-8): a pruner comparing with Java's UTF-16
  // `String.compareTo` fails this property (the r11 ADVICE defect).
  private val utf8Hostile: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar.map(_.toString), Gen.const("\ue000"),
    Gen.const(new String(Character.toChars(0x1F600))))).map(_.mkString)
  private def u8le(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) <= 0

  property("file-stats range pruning never drops a file containing a match (lexical, UTF-8 order)") =
    Prop.forAll(
      Gen.nonEmptyListOf(utf8Hostile),
      Gen.option(utf8Hostile),
      Gen.option(utf8Hostile)) { (vals, lo, hi) =>
      // the file's TRUE min/max, as a footer harvests them: byte order
      val mn = vals.reduce((a, b) => if (u8le(a, b)) a else b)
      val mx = vals.reduce((a, b) => if (u8le(a, b)) b else a)
      val stats = Map("c" -> graft.etl.FileStats.ColRange(mn, mx, numeric = false))
      val preds = Seq(graft.etl.FileStats.Range("c", lo, hi))
      val hasMatch = vals.exists(v =>
        lo.forall(u8le(_, v)) && hi.forall(u8le(v, _)))
      !hasMatch || graft.etl.FileStats.mayMatch(stats, preds)
    }

  // Sidecar JSON survives adversarial column names and stats values —
  // quotes, backslashes, braces, control chars — because esc() routes
  // everything parser-hostile through \uXXXX (legal JSON the brace- and
  // quote-delimited reader can't misparse).
  private val nasty: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.oneOf('"', '\\', '{', '}', ':', ',', '\n', '\t'),
    Gen.alphaNumChar)).map(_.mkString)

  property("stats sidecar round-trips adversarial names and values") = Prop.forAll(
    Gen.listOfN(2, nasty), nasty, nasty) { (colNames, mn, mx) =>
    val root = graft.TestSpark.tempDir("prop-sidecar").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "data/c0"))
    val stats = Map("data/c0/part-0.parquet" ->
      colNames.distinct.map(c =>
        c -> graft.etl.FileStats.ColRange(mn, mx, numeric = false)).toMap)
    graft.etl.FileStats.writeStatsSidecar(root, stats)
    val back = graft.etl.FileStats.readStatsSidecar(root, "data/c0")
    back == stats
  }
}
