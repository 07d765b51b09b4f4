package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.{Memo, Scratch}
import graft.llm.{Ann, Dedup}
import graft.model.Tables

/** The six shared relations built through graft.etl.Artifact: each is
  * served again for the same input without a rebuild or a job, rebuilt
  * for changed content under the same ids, and rebuilt when its input
  * parquet is rewritten in place. Builds are counted with the calling
  * thread's [[Memo.billed]] meter, which concurrent suites cannot move. */
class ArtifactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def builds: Long = Memo.billed.builds

  /** Three documents: in version A docs 1 and 2 are copies, in version B
    * docs 2 and 3 are. The tag keeps each test's corpus its own. */
  private def docs(tag: String, b: Boolean): DataFrame = {
    val x = s"alpha beta gamma delta epsilon zeta eta theta iota kappa $tag"
    val y = s"one two three four five six seven eight nine ten $tag"
    val texts = if (b) Seq(x, y, y) else Seq(x, x, y)
    texts.zipWithIndex.map { case (t, i) => (i + 1L, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Ten one-hot embeddings: version A duplicates 0 as 1, version B 2 as
    * 3. The tag moves every vector's label, so each test's corpus is its
    * own. */
  private val Dim = 16
  private def embeddings(tag: String, b: Boolean): DataFrame = {
    def oneHot(i: Int) = Array.tabulate(Dim)(j => if (j == i) 1.0f else 0.0f)
    (0 until 10).map { i =>
      (i.toLong, oneHot(if (b && i == 3) 2 else if (!b && i == 1) 0 else i), tag.hashCode)
    }.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  private final case class Case(name: String, table: String,
                                input: (String, Boolean) => DataFrame,
                                read: DataFrame => DataFrame)

  private val cases = Seq(
    Case("dedup pairs", "documents", docs, Dedup.nearDupPairsCkpt(_, 0.5)),
    Case("cc labels", "documents", docs, Dedup.ccLabelsCkpt(_, 0.5)),
    Case("embedding pairs", "embeddings", embeddings, e =>
      Ann.lshNearDupPairsCkpt(e.select(col("vec_id").as("id"), col("embedding").as("vec")),
        Dim, 400000L)),
    Case("bigram surprisal", "documents", docs, CurationOps.bigramSurprisalCkpt),
    Case("tokens", "documents", docs, TextCorpus.tokenized),
    Case("shingles", "documents", docs, LlmPipeline.sharedShingles))

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

  for (c <- cases) {
    test(s"${c.name}: the same input is served without a rebuild or a job; changed content rebuilds") {
      val tag = s"same-${c.name.replace(' ', '-')}"
      val a = c.input(tag, false)
      val b0 = builds
      val first = rows(c.read(a))
      assert(builds - b0 == 1, "the first call builds once")
      // an equal relation made afresh is the same input
      val again = rows(c.read(c.input(tag, false)))
      assert(builds - b0 == 1, "the same input must not rebuild")
      assert(again == first)
      val (jobs, _) = TestSpark.jobsAndTasks { c.read(a); () }
      assert(jobs == 0, "a warm call launches no job")
      val changed = rows(c.read(c.input(tag, true)))
      assert(builds - b0 == 2, "changed content under the same ids must rebuild")
      assert(changed != first)
    }

    test(s"${c.name}: an input parquet rewritten in place rebuilds after Tables.invalidate") {
      val tag = s"rewrite-${c.name.replace(' ', '-')}"
      val dir = Scratch.tempDir("spec-artifact").toString
      c.input(tag, false).write.parquet(s"$dir/${c.table}.parquet")
      def load() = Tables.load(spark, dir, c.table)
      val a = load()
      val b0 = builds
      val first = rows(c.read(a))
      assert(rows(c.read(load())) == first)
      assert(builds - b0 == 1)
      c.input(tag, true).write.mode("overwrite").parquet(s"$dir/${c.table}.parquet")
      Tables.invalidate(dir)
      val rewritten = load()
      val b1 = builds
      val changed = rows(c.read(rewritten))
      assert(builds - b1 == 1, "a rewritten input file must rebuild")
      assert(changed != first)
    }
  }

  test("Memo billing counts a nested build once and a hit not at all") {
    val d = docs("billing", false)
    val b0 = Memo.billed
    // the label build reads the pair relation, building it first
    Dedup.ccLabelsCkpt(d, 0.5)
    val b1 = Memo.billed
    assert(b1.builds - b0.builds == 1 && b1.nanos > b0.nanos)
    Dedup.nearDupPairsCkpt(d, 0.5)
    Dedup.ccLabelsCkpt(d, 0.5)
    assert(Memo.billed == b1, "hits bill nothing")
  }
}
