package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Model-based lake test: seeded random sequences of lake operations run
  * against the lake and against an in-memory model of what each version
  * must hold. Every sequence holds a connector append and a partitioned
  * append with a null partition value, and ends with an overwrite, a
  * restore to a version before it and a merge. After every operation the head version is read three ways
  * — [[SnapshotLake.read]], a `versionAsOf` connector load, and a
  * [[SnapshotLake.readPruned]] key band (which re-applies its filter) —
  * and each must equal the model; after every sequence every version is
  * read again by time travel.
  *
  * The model keys rows by a stable column id (`k`, `v`, `p`, `w`), so a
  * rename only changes the id's logical name, and it tracks the live
  * key tombstones apart from the stored rows: a deleted key stays hidden
  * through a later merge of it (tombstone wins) until a compaction
  * materializes the vector. It also tracks each id's physical name, so a
  * restore across an overwrite of another shape knows which schema the
  * restored version declares. */
class LakeModelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One version's expected state: stored rows by column id, the live
    * tombstoned keys, the logical name of each declared column id, and
    * each id's physical name with whether the mapping is on. */
  private final case class Model(rows: Map[Long, Map[String, Long]],
                                 tombs: Set[Long],
                                 names: Vector[(String, String)],
                                 phys: Map[String, String],
                                 mapped: Boolean = false) {
    def visible: Map[Long, Map[String, Long]] = rows.filter { case (k, _) => !tombs(k) }
    def nameOf(id: String): String = names.find(_._1 == id).get._2
  }

  private sealed trait Op
  private final case class Append(n: Int) extends Op
  private final case class AppendPartitioned(n: Int, nullPart: Boolean = false) extends Op
  private final case class ConnectorAppend(n: Int) extends Op
  private final case class DeleteWhere(pick: Int) extends Op
  private final case class Merge(pick: Int) extends Op
  private case object Compact extends Op
  private case object Evolve extends Op
  private case object Rename extends Op
  private final case class Restore(pick: Int) extends Op
  private final case class Overwrite(n: Int) extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(1, 4).map(Append(_)),
    2 -> Gen.choose(1, 4).flatMap(n => Gen.oneOf(false, true).map(AppendPartitioned(n, _))),
    2 -> Gen.choose(1, 4).map(ConnectorAppend(_)),
    2 -> Gen.choose(0, 1000).map(DeleteWhere(_)),
    2 -> Gen.choose(0, 1000).map(Merge(_)),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Evolve),
    1 -> Gen.const(Rename),
    1 -> Gen.choose(0, 1000).map(Restore(_)),
    1 -> Gen.choose(1, 4).map(Overwrite(_)))

  private val seqGen: Gen[Seq[Op]] = for {
    first <- Gen.oneOf(Append(3), AppendPartitioned(3))
    rest <- Gen.listOfN(6, opGen)
    to <- Gen.choose(0, 1000)
  } yield first +: AppendPartitioned(2, nullPart = true) +: ConnectorAppend(2) +: rest :+
    Overwrite(2) :+ Restore(to) :+ Merge(to)

  /** A frame's rows as (k → id-keyed values), ids resolved through the
    * model's names. */
  private def rowsOf(df: DataFrame, m: Model): (Set[String], Map[Long, Map[String, Long]]) = {
    val idOf = m.names.map(_.swap).toMap
    val cols = df.columns.toSeq
    val rows = df.collect().toSeq.map { r: Row =>
      cols.zipWithIndex.flatMap { case (c, i) =>
        Option(r.get(i)).map(x => idOf.getOrElse(c, c) -> x.toString.toLong)
      }.toMap
    }
    assert(rows.map(_("k")).distinct.size == rows.size, s"duplicate keys in $rows")
    (cols.toSet, rows.map(r => r("k") -> r).toMap)
  }

  private def assertEqualsModel(what: String, df: DataFrame, m: Model,
                                keep: Long => Boolean = _ => true,
                                allColumns: Boolean = true): Unit = {
    val (cols, got) = rowsOf(df, m)
    val want = m.visible.filter { case (k, _) => keep(k) }
    val declared = m.names.map(_._2).toSet
    if (allColumns) assert(cols == declared, s"$what: columns $cols, model $declared")
    else {
      // a column the frame leaves out must hold no value in the model
      assert(cols.subsetOf(declared), s"$what: columns $cols, model $declared")
      val missing = m.names.filterNot(n => cols(n._2)).map(_._1).toSet
      assert(want.values.forall(r => missing.forall(id => !r.contains(id))),
        s"$what: dropped columns $missing hold values")
    }
    val kept = m.names.map(_._1).filter(id => cols(m.nameOf(id))).toSet
    assert(got == want.map { case (k, r) => k -> r.filter(e => kept(e._1)) },
      s"$what:\n got  $got\n want $want")
  }

  private def checkVersion(root: String, v: Long, m: Model, withPruned: Boolean): Unit = {
    assertEqualsModel(s"read v$v", SnapshotLake.read(spark, root, Some(v)), m)
    assertEqualsModel(s"connector v$v", spark.read.format("graftlake")
      .option("versionAsOf", v.toString).load(root), m)
    if (withPruned && m.visible.nonEmpty) {
      val ks = m.visible.keys.toSeq.sorted
      val (lo, hi) = (ks(ks.size / 4), ks(ks.size * 3 / 4))
      val p = SnapshotLake.readPruned(spark, root,
        Seq(FileStats.Range(m.nameOf("k"), Some(lo.toString), Some(hi.toString))), Some(v))
      assert(p.kept <= p.total)
      assertEqualsModel(s"readPruned v$v [$lo,$hi]",
        p.df.filter(col(m.nameOf("k")).between(lo, hi)), m,
        k => k >= lo && k <= hi, allColumns = false)
    }
  }

  private def run(seed: Long): Unit = {
    val ops = seqGen.pureApply(org.scalacheck.Gen.Parameters.default, Seed(seed))
    val root = TestSpark.tempDir(s"graft-model-$seed").toString + "/lake"
    val rnd = new scala.util.Random(seed)
    val idx = SnapshotLake.IndexSpec(Seq("k"), None)
    var nextKey = 0L
    val empty = Model(Map.empty, Set.empty, Vector("k" -> "k", "v" -> "v", "p" -> "p"),
      Map("k" -> "k", "v" -> "v", "p" -> "p"))
    var m = empty
    val byVersion = scala.collection.mutable.Map.empty[Long, Model]
    def fresh(n: Int): Seq[Map[String, Long]] = (0 until n).map { _ =>
      val k = nextKey; nextKey += 1
      val base = Map("k" -> k, "v" -> rnd.nextInt(1000).toLong, "p" -> k % 3)
      if (m.names.exists(_._1 == "w")) base + ("w" -> rnd.nextInt(1000).toLong) else base
    }
    def frame(rs: Seq[Map[String, Long]]): DataFrame = {
      val ids = m.names.map(_._1)
      spark.createDataFrame(
        java.util.Arrays.asList(rs.map(r => Row.fromSeq(ids.map(id =>
          r.get(id).map(Long.box).orNull))): _*),
        org.apache.spark.sql.types.StructType(ids.map(id =>
          StructField(m.nameOf(id), LongType, nullable = true))))
        .coalesce(1)
    }
    def pick(pk: Int, from: Seq[Long], n: Int): Seq[Long] =
      if (from.isEmpty) Nil
      else (0 until n).map(i => from.sorted.apply((pk + i * 7) % from.size)).distinct
    ops.foreach { op =>
      op match {
        case Append(n) =>
          val rs = fresh(n)
          SnapshotLake.append(frame(rs), root, idx)
          m = m.copy(rows = m.rows ++ rs.map(r => r("k") -> r))
        case AppendPartitioned(n, nullPart) =>
          // the first row's partition value null: its dir is hive's default
          val rs = fresh(n).zipWithIndex.map { case (r, i) =>
            if (nullPart && i == 0) r - "p" else r
          }
          SnapshotLake.appendPartitioned(frame(rs), root, Seq(m.nameOf("p")), idx)
          m = m.copy(rows = m.rows ++ rs.map(r => r("k") -> r))
        case ConnectorAppend(n) =>
          val rs = fresh(n)
          frame(rs).write.format("graftlake").mode("append").option("statsCols", m.nameOf("k"))
            .save(root)
          m = m.copy(rows = m.rows ++ rs.map(r => r("k") -> r))
        case DeleteWhere(pk) =>
          val ks = pick(pk, m.visible.keys.toSeq, 2)
          if (ks.nonEmpty) {
            import spark.implicits._
            SnapshotLake.deleteWhere(spark, root, ks.toDF(m.nameOf("k")))
            m = m.copy(tombs = m.tombs ++ ks)
          }
        case Merge(pk) =>
          val ks = pick(pk, m.rows.keys.toSeq, 2)
          val ups = ks.map(k => m.rows(k) ++ Map("v" -> (m.rows(k)("v") + 1000L)) ++
            (if (m.names.exists(_._1 == "w")) Map("w" -> 7L) else Map.empty)) ++ fresh(1)
          SnapshotLake.merge(spark, root, frame(ups), m.nameOf("k"), idx)
          m = m.copy(rows = m.rows ++ ups.map(r => r("k") -> r))
        case Compact =>
          SnapshotLake.compact(spark, root)
          m = m.copy(rows = m.visible, tombs = Set.empty)
        case Evolve if !m.names.exists(_._1 == "w") =>
          val cur = SnapshotLake.declaredSchema(root).get
          val v = SnapshotLake.evolveSchema(spark, root,
            cur.add(StructField("w", LongType, nullable = true)))
          // a column added to a mapped lake gets a physical name no file used
          m = m.copy(names = m.names :+ ("w" -> "w"),
            phys = m.phys + ("w" -> (if (m.mapped) s"w@v$v" else "w")))
        case Rename =>
          val to = m.nameOf("v") + "_r"
          SnapshotLake.renameColumn(spark, root, m.nameOf("v"), to)
          // the first rename stamps every column with its current name
          m = m.copy(names = m.names.map { case ("v", _) => "v" -> to; case o => o },
            phys = if (m.mapped) m.phys else m.names.toMap, mapped = true)
        case Restore(pk) if byVersion.size > 1 =>
          val to = 1L + pk % (byVersion.size - 1)
          SnapshotLake.restore(root, to)
          // files and tombstones come back; the head's schema stays while
          // it keeps every physical name of the target's (a mapped head may
          // have dropped some), else the target's schema comes back too
          val t = byVersion(to)
          m = if (m.mapped || t.phys.values.forall(m.phys.values.toSet))
            t.copy(names = m.names, phys = m.phys, mapped = m.mapped)
          else t
        case Overwrite(n) =>
          // a new table of the first shape, unmapped
          m = empty
          val rs = fresh(n)
          SnapshotLake.overwrite(frame(rs), root, idx)
          m = m.copy(rows = rs.map(r => r("k") -> r).toMap)
        case _ => ()
      }
      val v = SnapshotLake.currentVersion(root).get
      if (!byVersion.contains(v)) {
        byVersion(v) = m
        checkVersion(root, v, m, withPruned = true)
      }
    }
    // time travel: every version still reads as the model recorded it
    byVersion.toSeq.sortBy(_._1).foreach { case (v, mv) =>
      checkVersion(root, v, mv, withPruned = false)
    }
  }

  Seq(11L, 23L, 37L).foreach { seed =>
    test(s"random lake operation sequence (seed $seed) reads as the model at every version") {
      run(seed)
    }
  }
}
