package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** A derived relation several queries share, built once and read back.
  *
  * The expensive shared stages (the MinHash pair relation, its cluster
  * labels, the embedding pair relation, the tokenized corpus, the
  * bigram-model scores, the hashed shingle sets) are each a function of
  * one input relation and a few parameters. The first call for a
  * `(name, params, input)` builds the relation, writes it to a
  * [[Scratch]] directory as parquet and releases the checkpoint blocks
  * the build made; every call reads the parquet back with the schema it was
  * written with, so a later consumer launches no job of its own until
  * it runs. At 100 TB each of these is a maintained lake table; this is
  * that contract scoped to one JVM, and a fresh JVM pays one build.
  *
  * Staleness: the input's identity is its canonicalized analyzed plan
  * plus `(path, length, mtime)` of every file it reads. Building the
  * key runs no Spark job. Two reads of one parquet path, or two local
  * relations holding equal rows, share an artifact; changed rows, an
  * added filter, or a rewritten input file build a new one. A relation
  * over an RDD never equals another, so it rebuilds every time — a
  * safe miss.
  *
  * The build runs under [[Memo]]'s lock, once per key, and is billed by
  * its meter.
  */
object Artifact {
  private final case class Key(name: String, params: Seq[Any], plan: LogicalPlan,
                               files: Seq[(String, Long, Long)])

  private val built = new Memo[Key, (String, StructType)]

  def apply(name: String, params: Any*)(input: DataFrame)(
      build: DataFrame => DataFrame): DataFrame = {
    val spark = input.sparkSession
    val (dir, schema) = built(Key(name, params, input.queryExecution.analyzed.canonicalized,
        fileStats(input))) {
      val dir = Scratch.tempDir(s"graft-$name").toString
      val out = build(input)
      try out.write.mode("overwrite").parquet(dir)
      finally Ckpt.releaseBuilt(out, input)
      (dir, out.schema)
    }
    spark.read.schema(schema).parquet(dir)
  }

  private def fileStats(df: DataFrame): Seq[(String, Long, Long)] = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    df.inputFiles.toSeq.sorted.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      (f, st.getLen, st.getModificationTime)
    }
  }
}
