package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.{FileStats, Scratch, SnapshotLake}
import graft.model.Tables

/** File-level data-skipping on the snapshot lake (graft.etl.FileStats +
  * SnapshotLake.readPruned/readPointLookup/compactZOrder) — the index
  * layer above q217's manifest protocol, oracle-checked end to end:
  *
  *   - q219: RANGE pruning through commit-time footer-harvested min/max
  *     (the Iceberg manifest-filtering primitive). The query's own bounds
  *     are derived FROM the index (max of per-file maxes = exact global
  *     max — no data scan), then the pruned scan must aggregate exactly
  *     what the full table would.
  *   - q220: POINT lookup through per-file bloom sidecars — the
  *     high-cardinality case min/max can't serve. False positives cost a
  *     wasted file read, false negatives can't occur, and the re-applied
  *     IN-filter makes the result equal the full scan's.
  *   - q222: copy-on-write MERGE targeted BY the index — upserts,
  *     tombstone deletes, and inserts in one commit that rewrites only
  *     the files whose key range may hold a changed key (Delta MERGE ×
  *     data-skipping: a 0.1%-of-keys merge rewrites ~0.1% of files, not
  *     the table).
  *   - q223: change data feed derived from the manifest DIFF of that
  *     merge — only removed/added files are read, carried-over files
  *     never enter the join, physical-only moves cancel by image
  *     equality (the Delta CDF shape).
  *   - q224: time travel × index × merge — the same key band read
  *     pruned at the pinned pre-merge version and at the merged head,
  *     band bounds derived from the pinned version's own sidecars.
  *   - q225: deletion vectors — merge-on-read DELETE as key tombstones
  *     (zero files rewritten; readers anti-join) vs the compaction that
  *     materializes them, both equal under one oracle.
  *   - q227: PARTITION pruning composed with the stats index on a
  *     hive-partitioned lake ([[SnapshotLake.appendPartitioned]]) — the
  *     file's path-encoded partition tuple prunes first (the level every
  *     real lake query uses), footer min/max prunes within it, and the
  *     kept/total file counts ride the result so the oracle proves both
  *     levels fired.
  *   - q228: the change feed as a streaming SOURCE
  *     ([[graft.streaming.CdcFeed]]) — a consumer follows the source
  *     lake's head version by version, applying each commit's diff
  *     exactly-once into a destination lake, progress carried by the
  *     destination's own idempotence-tag index (the Delta CDF-source
  *     pattern, composing q223's diff with q226's apply loop).
  *   - q229: RESTORE TO VERSION ([[SnapshotLake.restore]]) — one
  *     O(diff) commit re-references the target's immutable files,
  *     undoing a delete + compaction with zero data movement while the
  *     undone versions stay time-travelable.
  *   - q230: ZERO-COPY CLONE ([[SnapshotLake.cloneTo]]) — shallow clone
  *     via hard links (no data byte read), after which the two tables
  *     diverge independently; version pins prove isolation both ways.
  *   - q231: predicate DELETE (copy-on-write,
  *     [[SnapshotLake.deleteMatching]]) — three-way file
  *     classification: ranges disjoint → carried verbatim, range inside
  *     the predicate with zero harvested nulls → whole-dropped by
  *     METADATA (no rewrite), overlap → survivors rewritten. The
  *     classification counts are oracle-pinned literals.
  *   - q232: METADATA-ONLY count/min/max ([[SnapshotLake.fastCount]] /
  *     [[SnapshotLake.statsRange]]) — answered from the _rows.json and
  *     _stats.json sidecars with zero data-file opens (the
  *     Delta/Iceberg numRecords path).
  *   - q233: expectations ingest ([[SnapshotLake.appendExpect]]) —
  *     clean rows commit, violators quarantine with a _violated audit
  *     column; nothing drops silently.
  *   - q234: WRITE-AUDIT-PUBLISH ([[SnapshotLake.stageAppend]] /
  *     [[SnapshotLake.publish]] / [[SnapshotLake.discard]]) — staged
  *     batches live outside every manifest, a metadata-only audit
  *     (staged sidecars vs head statsRange) gates publication, and a
  *     tagged publish is exactly-once (Iceberg's WAP).
  *   - q235: append-only streaming TAIL
  *     ([[graft.streaming.LakeTail]]) — each append commit's added
  *     files stream downstream exactly once with no diff join; merges,
  *     deletes, and compactions are skipped but still advance the
  *     follower (Delta's skipChangeCommits), the complement of q228's
  *     CDC replica.
  *   - q236: incrementally-maintained MATERIALIZED VIEW
  *     ([[graft.streaming.MatView]]) — per-commit signed group deltas
  *     from the change feed merged into a view lake exactly-once,
  *     bit-equal to the from-scratch GROUP BY at every step (the DLT /
  *     DBSQL MV-maintenance pattern).
  *   - q221: `OPTIMIZE ZORDER BY` composed with the stats index — the
  *     compaction rewrites the snapshot along the Morton curve of
  *     (l_suppkey, l_partkey) so a two-dimension box predicate prunes on
  *     BOTH columns at the FILE level (q107 demonstrated the row-group
  *     level; this is the listing level, where a million-file table needs
  *     it).
  *
  * The reference's load step (ref: pipeline/ETL/load.py:50-56) appends
  * blind parquet with no statistics; every reader re-scans everything.
  * These three queries are the 100 TB answer: indexes maintained once at
  * commit time, resolved from the manifest, with pruning conservative by
  * construction so the oracle can hold exact equality. The file-count
  * evidence (kept < total) is FileStatsSpec's territory; here the oracle
  * pins that pruning never changes an answer.
  *
  * The lake has one reader. The [[SnapshotLake]] calls of q219–q237
  * (`read`, `readPruned`, `readPointLookup`, `fastCountWhere`, and the
  * rewrites' materializations) are wrappers over the same `graftlake`
  * connector scan that q238 onward load through
  * `spark.read.format("graftlake")` and the catalog; both prune from one
  * per-version [[graft.etl.LakeIndex]].
  */
object LakeIndexOps {

  import LakeFixtures._

  private val centsSum = (c: String) =>
    (sum(round(col(c) * 100).cast("long")) / 100.0)
  private val centsSumSql = (e: String) =>
    s"CAST(sum(CAST(round(($e) * 100) AS BIGINT)) AS BIGINT) / 100.0"

  /** Exact global (min, max) of `c` read from the index alone — max of
    * per-file maxes / min of mins, a driver-side sidecar fold with NO
    * data scan (valid because every live file of these fixtures carries
    * stats; a general reader falls back to a scan when one doesn't). */
  private def statsBounds(root: String, c: String,
                          version: Option[Long] = None): (Long, Long) = {
    val idx = graft.etl.LakeIndex.of(root,
      version.orElse(SnapshotLake.currentVersion(root)).get)
    val rs = idx.files.flatMap(idx.composed(_).get(c))
    require(rs.nonEmpty, s"no harvested stats for $c at $root")
    (rs.map(_.min.toDouble.toLong).min, rs.map(_.max.toDouble.toLong).max)
  }

  val defs: Vector[Q] = Vector(

    // ── Range pruning via commit-time footer min/max: scan the middle
    //    orderkey band [max/4, max/2]; only the manifest files whose
    //    stats ranges intersect it are read, and the aggregate must equal
    //    the full table's band aggregate exactly.
    Q("q219_stats_pruned_scan",
      s"""WITH b AS (SELECT max(l_orderkey) // 4 AS lo,
         |                  max(l_orderkey) // 2 AS hi FROM lineitem)
         |SELECT l_returnflag,
         |       count(*) AS n_rows,
         |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |       ${centsSumSql("l_extendedprice")} AS revenue
         |FROM lineitem, b
         |WHERE l_orderkey >= b.lo AND l_orderkey <= b.hi
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val root = indexedLake(s, d)
      val (_, maxK) = statsBounds(root, "l_orderkey")
      val scan = SnapshotLake.readPruned(s, root, Seq(
        FileStats.Range("l_orderkey",
          Some((maxK / 4).toString), Some((maxK / 2).toString))))
      scan.df.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          centsSum("l_extendedprice").as("revenue"))
        .orderBy("l_returnflag")
    },

    // ── Bloom point lookup: probe {min, max, midpoint} orderkeys through
    //    the per-file blooms (midpoint usually absent — the
    //    definitely-not-here case the bloom answers without any read)
    //    and return the surviving order lines verbatim.
    Q("q220_bloom_point_lookup",
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_orderkey IN ((SELECT min(l_orderkey) FROM lineitem),
        |                     (SELECT max(l_orderkey) FROM lineitem),
        |                     (SELECT (min(l_orderkey) + max(l_orderkey)) // 2
        |                      FROM lineitem))
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      val root = indexedLake(s, d)
      val (minK, maxK) = statsBounds(root, "l_orderkey")
      val probes = Seq(minK, maxK, (minK + maxK) / 2).map(_.toString)
      SnapshotLake.readPointLookup(s, root, "l_orderkey", probes).df
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ── Copy-on-write MERGE through the min/max index: upserts, tombstone
    //    deletes, and inserts land in ONE commit that rewrites only the
    //    files whose key range may hold a changed key; the merged state
    //    must equal the oracle's row-level reconstruction of the same
    //    deterministic change set. File-identity evidence (untouched files
    //    carried verbatim) is SnapshotLakeSpec's territory.
    Q("q222_lake_merge_upsert",
      s"""WITH h AS (SELECT max(o_orderkey) // 2 AS half FROM orders),
         |base AS (
         |  SELECT CASE WHEN o_orderkey % 97 = 0 AND o_orderkey < h.half THEN 'U'
         |              ELSE o_orderstatus END AS o_orderstatus,
         |         CASE WHEN o_orderkey % 97 = 0 AND o_orderkey < h.half
         |              THEN o_totalprice + 1.0
         |              ELSE o_totalprice END AS o_totalprice
         |  FROM orders, h
         |  WHERE NOT (o_orderkey % 101 = 0 AND o_orderkey < h.half
         |             AND o_orderkey % 97 <> 0)),
         |ins AS (
         |  SELECT 'N' AS o_orderstatus, CAST(1000.0 + i AS DOUBLE) AS o_totalprice
         |  FROM range(1, 51) t(i)),
         |merged AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
         |SELECT o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total
         |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      SnapshotLake.read(s, mergedLake(s, d))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          centsSum("o_totalprice").as("total"))
        .orderBy("o_orderstatus")
    },

    // ── Change data feed from the manifest diff: pre/post images of the
    //    v4→v5 merge classified into insert/delete/update rows, reading
    //    ONLY the files the merge removed or added — rows in carried-over
    //    files (including the untouched-but-rewritten-file rows, whose
    //    equal images cancel) never enter the diff.
    Q("q223_change_data_feed",
      s"""WITH h AS (SELECT max(o_orderkey) // 2 AS half FROM orders),
         |changes AS (
         |  SELECT 'delete' AS _change_type, o_totalprice FROM orders, h
         |  WHERE o_orderkey % 101 = 0 AND o_orderkey < h.half
         |    AND o_orderkey % 97 <> 0
         |  UNION ALL
         |  SELECT 'insert', CAST(1000.0 + i AS DOUBLE) FROM range(1, 51) t(i)
         |  UNION ALL
         |  SELECT 'update_preimage', o_totalprice FROM orders, h
         |  WHERE o_orderkey % 97 = 0 AND o_orderkey < h.half
         |  UNION ALL
         |  SELECT 'update_postimage', o_totalprice + 1.0 FROM orders, h
         |  WHERE o_orderkey % 97 = 0 AND o_orderkey < h.half)
         |SELECT _change_type, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total
         |FROM changes GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val root = mergedLake(s, d)
      SnapshotLake.changeFeed(s, root, 4L, 5L, "o_orderkey")
        .groupBy("_change_type")
        .agg(count(lit(1)).as("n_rows"),
          centsSum("o_totalprice").as("total"))
        .orderBy("_change_type")
    },

    // ── Time travel × index × merge: the SAME key band read pruned at
    //    the pinned pre-merge version (v4) and the post-merge head (v5) —
    //    index-driven file skipping riding a pinned manifest, with the
    //    band bounds derived from v4's OWN sidecars (so the inserted
    //    above-max keys of v5 can't shift them). Both snapshots must
    //    reproduce the oracle's row-level reconstruction exactly.
    Q("q224_time_travel_pruned",
      s"""WITH b AS (SELECT max(o_orderkey) // 4 AS lo,
         |                  max(o_orderkey) // 2 AS hi,
         |                  max(o_orderkey) // 2 AS half FROM orders),
         |pre AS (
         |  SELECT 'v4' AS snapshot, o_orderstatus, o_totalprice
         |  FROM orders, b WHERE o_orderkey >= b.lo AND o_orderkey <= b.hi),
         |post AS (
         |  SELECT 'v5' AS snapshot,
         |         CASE WHEN o_orderkey % 97 = 0 AND o_orderkey < b.half THEN 'U'
         |              ELSE o_orderstatus END AS o_orderstatus,
         |         CASE WHEN o_orderkey % 97 = 0 AND o_orderkey < b.half
         |              THEN o_totalprice + 1.0
         |              ELSE o_totalprice END AS o_totalprice
         |  FROM orders, b
         |  WHERE o_orderkey >= b.lo AND o_orderkey <= b.hi
         |    AND NOT (o_orderkey % 101 = 0 AND o_orderkey < b.half
         |             AND o_orderkey % 97 <> 0)),
         |u AS (SELECT * FROM pre UNION ALL SELECT * FROM post)
         |SELECT snapshot, o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val root = mergedLake(s, d)
      val (_, maxK) = statsBounds(root, "o_orderkey", Some(4L))
      val band = Seq(FileStats.Range("o_orderkey",
        Some((maxK / 4).toString), Some((maxK / 2).toString)))
      def leg(v: Long, tag: String) =
        SnapshotLake.readPruned(s, root, band, Some(v)).df
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            centsSum("o_totalprice").as("total"))
          .withColumn("snapshot", lit(tag))
          .select("snapshot", "o_orderstatus", "n_rows", "total")
      leg(4L, "v4").unionByName(leg(5L, "v5"))
        .orderBy("snapshot", "o_orderstatus")
    },

    // ── Streaming CDC apply: the two-chunk change feed drained through
    //    one exactly-once tagged MERGE per micro-batch; the final lake
    //    must equal the oracle's row-level reconstruction of the WHOLE
    //    change set, and the version count pins the commit cadence (2
    //    appends + exactly 2 merges — a double-applied replay breaks it).
    Q("q226_streaming_cdc_apply",
      s"""WITH base AS (
         |  SELECT CASE WHEN o_orderkey % 89 = 0 THEN 'S'
         |              ELSE o_orderstatus END AS o_orderstatus,
         |         CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 2.0
         |              ELSE o_totalprice END AS o_totalprice
         |  FROM orders
         |  WHERE NOT (o_orderkey % 103 = 0 AND o_orderkey % 89 <> 0)),
         |ins AS (
         |  SELECT 'C' AS o_orderstatus, CAST(500.0 + i AS DOUBLE) AS o_totalprice
         |  FROM range(1, 41) t(i)),
         |final AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
         |SELECT o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total,
         |       4 AS n_versions
         |FROM final GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val root = cdcLake(s, d)
      SnapshotLake.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          centsSum("o_totalprice").as("total"))
        .withColumn("n_versions",
          lit(SnapshotLake.currentVersion(root).get.toInt))
        .orderBy("o_orderstatus")
    },

    // ── Deletion vectors (merge-on-read DELETE): v3 holds every mod-13
    //    orderkey only as a key tombstone (zero data files rewritten);
    //    v4 is the compaction that materialized the vector. BOTH versions
    //    must aggregate identically to the oracle's filtered table — the
    //    read-path anti-join and the materialized rewrite are the same
    //    logical relation, which is the entire DV contract. The
    //    no-file-rewritten evidence is SnapshotLakeSpec's.
    Q("q225_deletion_vectors",
      s"""WITH f AS (
         |  SELECT l_returnflag, l_quantity, l_extendedprice FROM lineitem
         |  WHERE l_orderkey % 13 <> 0)
         |SELECT p.phase, l_returnflag,
         |       count(*) AS n_rows,
         |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |       ${centsSumSql("l_extendedprice")} AS revenue
         |FROM f, (VALUES ('materialized'), ('mor')) p(phase)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val root = dvLake(s, d)
      def leg(v: Long, tag: String) =
        SnapshotLake.read(s, root, Some(v))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            centsSum("l_extendedprice").as("revenue"))
          .withColumn("phase", lit(tag))
          .select("phase", "l_returnflag", "n_rows", "sum_qty", "revenue")
      leg(4L, "materialized").unionByName(leg(3L, "mor"))
        .orderBy("phase", "l_returnflag")
    },

    // ── OPTIMIZE ZORDER + stats: a (suppkey × partkey) box over the
    //    Morton-compacted snapshot prunes at the file level on BOTH
    //    dimensions. Bounds are static literals valid at every sf (keys
    //    are 1-based and dense); at larger sf the same box is MORE
    //    selective, which is exactly when the index matters. partkey
    //    domains past 2^16 fold in the interleave (BitsPerDim) — that
    //    only loosens clustering, never pruning correctness, since
    //    pruning reads the harvested true min/max, not the z value;
    //    production normalizes dimensions by range-rank first.
    Q("q221_zorder_box_scan",
      s"""SELECT l_returnflag,
         |       count(*) AS n_rows,
         |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |       ${centsSumSql("l_extendedprice")} AS revenue
         |FROM lineitem
         |WHERE l_suppkey BETWEEN 2 AND 4 AND l_partkey BETWEEN 10 AND 60
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val root = zorderedLake(s, d)
      val scan = SnapshotLake.readPruned(s, root, Seq(
        FileStats.Range("l_suppkey", Some("2"), Some("4")),
        FileStats.Range("l_partkey", Some("10"), Some("60"))))
      scan.df.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          centsSum("l_extendedprice").as("revenue"))
        .orderBy("l_returnflag")
    },

    // ── Partition-aware lake: hive-partitioned snapshot commits record
    //    each file's partition tuple in its manifest path, and readPruned
    //    composes PARTITION pruning (exact path-tuple ranges) with the
    //    min/max sidecar index. The target priority is derived from the
    //    lake's own path tuples and the key band from its own sidecars —
    //    metadata only, no data scan — and kept/total file counts ride
    //    the result so the oracle proves BOTH pruning levels fired: 20
    //    files (4 appends × 5 priorities), partition pruning keeps the 4
    //    of the target priority, the key band keeps the ~2 of those
    //    whose orderkey range intersects. Row-level equality then pins
    //    that pruning changed nothing.
    Q("q227_partitioned_lake_scan",
      s"""WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
         |tgt AS (SELECT min(o_orderpriority) AS p FROM orders),
         |b AS (SELECT m // 4 AS lo, m // 2 AS hi FROM mx),
         |sl AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
         |         CASE WHEN o_orderkey < m // 4 THEN 0
         |              WHEN o_orderkey < m * 2 // 4 THEN 1
         |              WHEN o_orderkey < m * 3 // 4 THEN 2
         |              ELSE 3 END AS slice
         |  FROM orders, mx),
         |files AS (
         |  SELECT slice, o_orderpriority,
         |         min(o_orderkey) AS mn, max(o_orderkey) AS mxk
         |  FROM sl GROUP BY 1, 2),
         |kept AS (SELECT count(*) AS k FROM files, tgt, b
         |         WHERE o_orderpriority = tgt.p AND mn <= b.hi AND mxk >= b.lo),
         |tot AS (SELECT count(*) AS t FROM files)
         |SELECT o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total,
         |       (SELECT k FROM kept) AS kept_files,
         |       (SELECT t FROM tot) AS total_files
         |FROM sl, tgt, b
         |WHERE o_orderpriority = tgt.p
         |  AND o_orderkey >= b.lo AND o_orderkey <= b.hi
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val root = partitionedLake(s, d)
      val rel = SnapshotLake.files(root, SnapshotLake.currentVersion(root).get)
      // target priority from the lake's OWN partition tuples (driver-side
      // path fold, no data scan) — min matches the oracle's min() because
      // hive encoding is identity on these values
      val prio = rel.flatMap(_.split('/')
          .find(_.startsWith("o_orderpriority="))
          .map(_.stripPrefix("o_orderpriority="))).distinct.min
      val (_, maxK) = statsBounds(root, "o_orderkey")
      val scan = SnapshotLake.readPruned(s, root, Seq(
        FileStats.Range("o_orderpriority", Some(prio), Some(prio)),
        FileStats.Range("o_orderkey",
          Some((maxK / 4).toString), Some((maxK / 2).toString))))
      scan.df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          centsSum("o_totalprice").as("total"))
        .withColumn("kept_files", lit(scan.kept.toLong))
        .withColumn("total_files", lit(scan.total.toLong))
        .orderBy("o_orderstatus")
    },

    // ── Change feed as a streaming SOURCE: CdcFeed follows the source
    //    lake's five-commit history (appends, COW merge, DV delete,
    //    compact) version by version into a destination lake, one
    //    exactly-once tagged apply per commit, progress carried by the
    //    destination's own tag index. The drained destination must equal
    //    the oracle's row-level reconstruction of the source head, and
    //    the version pins prove the cadence: a double-applied replay or
    //    a stalled compaction batch would break 5/5.
    Q("q228_cdc_feed_follow",
      s"""WITH f AS (
         |  SELECT CASE WHEN o_orderkey % 91 = 0 THEN 'F2'
         |              ELSE o_orderstatus END AS o_orderstatus,
         |         CASE WHEN o_orderkey % 91 = 0 THEN o_totalprice + 3.0
         |              ELSE o_totalprice END AS o_totalprice
         |  FROM orders
         |  WHERE NOT (o_orderkey % 107 = 0 AND o_orderkey % 91 <> 0)
         |    AND o_orderkey % 113 <> 0)
         |SELECT o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total,
         |       CAST(5 AS BIGINT) AS n_src_versions,
         |       CAST(5 AS BIGINT) AS n_dst_versions
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val (src, dst) = cdfPipeline(s, d)
      SnapshotLake.read(s, dst)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          centsSum("o_totalprice").as("total"))
        .withColumn("n_src_versions",
          lit(SnapshotLake.currentVersion(src).get))
        .withColumn("n_dst_versions",
          lit(SnapshotLake.currentVersion(dst).get))
        .orderBy("o_orderstatus")
    },

    // ── RESTORE TO VERSION: one O(diff) commit re-references v2's
    //    immutable files, undoing a delete + compaction with zero data
    //    movement. The head must equal the full pre-delete table while
    //    the undone v4 still time-travels to the deleted state — history
    //    is preserved, not rewritten. n_versions pins the O(diff)
    //    cadence (2 appends + delete + compact + restore = 5).
    Q("q229_restore_to_version",
      s"""WITH pre AS (
         |  SELECT 'pre_restore' AS phase, o_orderstatus, o_totalprice
         |  FROM orders WHERE o_orderkey % 97 <> 0),
         |post AS (
         |  SELECT 'restored' AS phase, o_orderstatus, o_totalprice
         |  FROM orders),
         |u AS (SELECT * FROM pre UNION ALL SELECT * FROM post)
         |SELECT phase, o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total,
         |       CAST(5 AS BIGINT) AS n_versions
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val root = restoredLake(s, d)
      def leg(v: Option[Long], tag: String) =
        SnapshotLake.read(s, root, v)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            centsSum("o_totalprice").as("total"))
          .withColumn("phase", lit(tag))
          .select("phase", "o_orderstatus", "n_rows", "total")
      leg(Some(4L), "pre_restore").unionByName(leg(None, "restored"))
        .withColumn("n_versions",
          lit(SnapshotLake.currentVersion(root).get))
        .orderBy("phase", "o_orderstatus")
    },

    // ── ZERO-COPY CLONE: the clone's v1 hard-links the source snapshot
    //    (no data byte read or copied — TableOpsSpec pins shared
    //    inodes), then the two tables DIVERGE: 30 synthetic rows land
    //    only in the clone, a mod-99 tombstone delete lands only in the
    //    source. Each side must equal its own reconstruction, and the
    //    version pins (src 3, clone 2) prove neither write leaked
    //    across.
    Q("q230_zero_copy_clone",
      s"""WITH src AS (
         |  SELECT 'src' AS side, o_orderstatus, o_totalprice
         |  FROM orders WHERE o_orderkey % 99 <> 0),
         |dst AS (
         |  SELECT 'clone' AS side, o_orderstatus, o_totalprice FROM orders
         |  UNION ALL
         |  SELECT 'clone', 'Z', CAST(100.0 + i AS DOUBLE) FROM range(1, 31) t(i)),
         |u AS (SELECT * FROM src UNION ALL SELECT * FROM dst)
         |SELECT side, o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total,
         |       CAST(3 AS BIGINT) AS src_version,
         |       CAST(2 AS BIGINT) AS clone_version
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val (src, dst) = clonedLakes(s, d)
      def leg(root: String, tag: String) =
        SnapshotLake.read(s, root)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            centsSum("o_totalprice").as("total"))
          .withColumn("side", lit(tag))
          .select("side", "o_orderstatus", "n_rows", "total")
      leg(src, "src").unionByName(leg(dst, "clone"))
        .withColumn("src_version", lit(SnapshotLake.currentVersion(src).get))
        .withColumn("clone_version", lit(SnapshotLake.currentVersion(dst).get))
        .orderBy("side", "o_orderstatus")
    },

    // ── Predicate DELETE (copy-on-write) with the whole-file-drop fast
    //    path: DELETE WHERE o_orderkey ∈ [max/4, max·5/8] over four
    //    one-file quartile commits — quartile 2 leaves the manifest by
    //    METADATA alone (its range is inside the predicate and its
    //    harvested null count is zero), quartile 3 rewrites survivors,
    //    quartiles 1/4 carry verbatim. The oracle pins the surviving
    //    rows AND the structurally-determined classification counts —
    //    at 100 TB this is why a retention DELETE on a date-partitioned
    //    table is a manifest-only commit.
    Q("q231_predicate_delete",
      s"""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
         |keep AS (
         |  SELECT o_orderstatus, o_totalprice FROM orders, m
         |  WHERE NOT (o_orderkey >= mx // 4 AND o_orderkey <= mx * 5 // 8))
         |SELECT o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total,
         |       CAST(2 AS BIGINT) AS carried_files,
         |       CAST(1 AS BIGINT) AS dropped_files,
         |       CAST(1 AS BIGINT) AS rewritten_files,
         |       CAST(5 AS BIGINT) AS n_versions
         |FROM keep GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val (root, r) = predDeletedLake(s, d)
      SnapshotLake.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          centsSum("o_totalprice").as("total"))
        .withColumn("carried_files", lit(r.carried.toLong))
        .withColumn("dropped_files", lit(r.dropped.toLong))
        .withColumn("rewritten_files", lit(r.rewritten.toLong))
        .withColumn("n_versions", lit(r.version))
        .orderBy("o_orderstatus")
    },

    // ── METADATA-ONLY aggregates: count(*) and exact min/max answered
    //    entirely from the _rows.json / _stats.json sidecars of the
    //    live manifest files — the Delta/Iceberg numRecords path. The
    //    Spark plan contains NO scan of the data files (the values are
    //    resolved driver-side from O(files) sidecar bytes); the oracle
    //    computes the same aggregates the hard way. At 100 TB this is
    //    the difference between milliseconds and a cluster-wide scan.
    Q("q232_metadata_only_agg",
      """SELECT count(*) AS n_rows,
        |       min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey,
        |       min(l_partkey) AS min_pkey, max(l_partkey) AS max_pkey
        |FROM lineitem""".stripMargin) { (s, d) =>
      val root = indexedLake(s, d)
      val n = SnapshotLake.fastCount(root).getOrElse(
        sys.error("every live file must carry a rows sidecar"))
      val ok = SnapshotLake.statsRange(root, "l_orderkey").get
      val pk = SnapshotLake.statsRange(root, "l_partkey").get
      s.range(1).select(
        lit(n).as("n_rows"),
        lit(ok.min.toDouble.toLong).as("min_okey"),
        lit(ok.max.toDouble.toLong).as("max_okey"),
        lit(pk.min.toDouble.toLong).as("min_pkey"),
        lit(pk.max.toDouble.toLong).as("max_pkey"))
    },

    // ── Expectations ingest (CHECK constraints' quarantine flavor):
    //    orders plus 45 deterministic bad rows flow through
    //    appendExpect — every real row passes both expectations and
    //    lands in the clean lake; violators land in the quarantine lake
    //    with _violated naming each failed expectation (comma-joined in
    //    declaration order for the 5 rows violating both). Nothing is
    //    dropped silently: clean + quarantined = input, row for row.
    Q("q233_expectations_quarantine",
      s"""WITH bad AS (
         |  SELECT CASE WHEN i <= 25 THEN 'status_known'
         |              WHEN i <= 40 THEN 'price_positive'
         |              ELSE 'price_positive,status_known' END AS grp,
         |         CASE WHEN i <= 25 THEN CAST(100.0 + i AS DOUBLE)
         |              WHEN i <= 40 THEN CAST(-(50.0 + i) AS DOUBLE)
         |              ELSE CAST(-(10.0 + i) AS DOUBLE) END AS v
         |  FROM range(1, 46) t(i)),
         |clean AS (SELECT 'clean' AS phase, o_orderstatus AS grp,
         |                 o_totalprice AS v FROM orders),
         |quar AS (SELECT 'quarantine' AS phase, grp, v FROM bad),
         |u AS (SELECT * FROM clean UNION ALL SELECT * FROM quar)
         |SELECT phase, grp, count(*) AS n_rows,
         |       ${centsSumSql("v")} AS total
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val (root, quar) = expectLakes(s, d)
      val clean = SnapshotLake.read(s, root)
        .groupBy(col("o_orderstatus").as("grp"))
        .agg(count(lit(1)).as("n_rows"), centsSum("o_totalprice").as("total"))
        .withColumn("phase", lit("clean"))
      val dirty = SnapshotLake.read(s, quar)
        .groupBy(col("_violated").as("grp"))
        .agg(count(lit(1)).as("n_rows"), centsSum("o_totalprice").as("total"))
        .withColumn("phase", lit("quarantine"))
      clean.unionByName(dirty)
        .select("phase", "grp", "n_rows", "total")
        .orderBy("phase", "grp")
    },

    // ── WRITE-AUDIT-PUBLISH: two staged batches exist on disk but in no
    //    manifest; a metadata-only audit (staged sidecar ranges vs the
    //    head's statsRange — zero data reads) publishes the disjoint
    //    upper half exactly-once and discards the overlapping slice. The
    //    head must equal the full table with NO trace of the rejected
    //    batch, and n_versions=2 pins that staging never moved the
    //    version counter (the Iceberg WAP contract).
    Q("q234_write_audit_publish",
      s"""SELECT o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total,
         |       CAST(2 AS BIGINT) AS n_versions,
         |       CAST(1 AS BIGINT) AS published,
         |       CAST(1 AS BIGINT) AS discarded
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val root = wapLake(s, d)
      SnapshotLake.read(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          centsSum("o_totalprice").as("total"))
        .withColumn("n_versions", lit(SnapshotLake.currentVersion(root).get))
        .withColumn("published", lit(1L))
        .withColumn("discarded", lit(1L))
        .orderBy("o_orderstatus")
    },

    // ── Append-only streaming TAIL (Delta's skipChangeCommits): the
    //    destination accumulates exactly the three appends' ORIGINAL
    //    rows — the mod-95 merge and the compaction are skipped, never
    //    re-emitted — while the source head carries the upserts. Both
    //    sides under one oracle pins the asymmetry that defines the
    //    append-bus contract, and the version pins (src 5, tail 5)
    //    prove skipped commits still advance the follower exactly-once.
    Q("q235_append_tail_follow",
      s"""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
         |srcv AS (
         |  SELECT 'src' AS side,
         |         CASE WHEN o_orderkey % 95 = 0 AND o_orderkey < mx // 3
         |              THEN 'T' ELSE o_orderstatus END AS o_orderstatus,
         |         CASE WHEN o_orderkey % 95 = 0 AND o_orderkey < mx // 3
         |              THEN o_totalprice + 4.0
         |              ELSE o_totalprice END AS o_totalprice
         |  FROM orders, m),
         |tl AS (SELECT 'tail' AS side, o_orderstatus, o_totalprice FROM orders),
         |u AS (SELECT * FROM srcv UNION ALL SELECT * FROM tl)
         |SELECT side, o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total,
         |       CAST(5 AS BIGINT) AS src_version,
         |       CAST(5 AS BIGINT) AS tail_version
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val (src, dst) = tailLakes(s, d)
      def leg(root: String, tag: String) =
        SnapshotLake.read(s, root)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            centsSum("o_totalprice").as("total"))
          .withColumn("side", lit(tag))
          .select("side", "o_orderstatus", "n_rows", "total")
      leg(src, "src").unionByName(leg(dst, "tail"))
        .withColumn("src_version", lit(SnapshotLake.currentVersion(src).get))
        .withColumn("tail_version", lit(SnapshotLake.currentVersion(dst).get))
        .orderBy("side", "o_orderstatus")
    },

    // ── Incrementally-maintained MATERIALIZED VIEW: the view followed
    //    five heterogeneous source commits (appends, group-moving merge,
    //    compaction, MOR delete) applying signed group deltas from each
    //    change feed — and must be BIT-EQUAL to the from-scratch
    //    GROUP BY of the final head, which is what the oracle computes.
    //    Per-refresh cost tracked each commit's change mass (the
    //    compaction fed zero deltas); the version pins (src 5, mv 5)
    //    prove one exactly-once view commit per source version.
    Q("q236_incremental_mat_view",
      """WITH base AS (
        |  SELECT CASE WHEN o_orderkey % 91 = 0 THEN 'M'
        |              ELSE o_orderstatus END AS g,
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |           + CASE WHEN o_orderkey % 91 = 0 THEN 250 ELSE 0 END AS cents,
        |         o_orderkey
        |  FROM orders
        |  WHERE NOT (o_orderkey % 109 = 0 AND o_orderkey % 91 <> 0)),
        |final AS (SELECT * FROM base WHERE o_orderkey % 97 <> 0)
        |SELECT g AS o_orderstatus, count(*) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) / 100.0 AS total,
        |       CAST(5 AS BIGINT) AS src_version,
        |       CAST(5 AS BIGINT) AS mv_version
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val (src, mv) = mvPipeline(s, d)
      SnapshotLake.read(s, mv)
        .select(col("o_orderstatus"), col("n_rows"),
          (col("sum_v") / 100.0).as("total"))
        .withColumn("src_version", lit(SnapshotLake.currentVersion(src).get))
        .withColumn("mv_version", lit(SnapshotLake.currentVersion(mv).get))
        .orderBy("o_orderstatus")
    },

    // ── PRUNING-BASED COUNT (Iceberg/Snowflake's count trick): the same
    //    [max/4, max·5/8] band counted at the intact pre-delete version
    //    — the interior quartile contributes its sidecar row count
    //    WITHOUT being opened (metadata_files=1), only the boundary
    //    quartile is scanned (scanned_files=1), the outer two are
    //    pruned — and at the post-delete head, where the rewritten
    //    survivor file's range leaves the band entirely: zero rows from
    //    zero opened files (all three files pruned). Both legs exact
    //    under the oracle; on a range-ingested 100 TB table this is a
    //    band count that opens two edge files however wide the band.
    Q("q237_pruning_based_count",
      """WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
        |pre AS (
        |  SELECT 'pre_delete' AS phase, count(*) AS n_rows,
        |         CAST(1 AS BIGINT) AS metadata_files,
        |         CAST(1 AS BIGINT) AS scanned_files,
        |         CAST(2 AS BIGINT) AS pruned_files
        |  FROM orders, m
        |  WHERE o_orderkey >= mx // 4 AND o_orderkey <= mx * 5 // 8),
        |post AS (
        |  SELECT 'post_delete', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |         CAST(0 AS BIGINT), CAST(3 AS BIGINT))
        |SELECT * FROM pre UNION ALL SELECT * FROM post
        |ORDER BY phase""".stripMargin) { (s, d) =>
      val (root, _) = predDeletedLake(s, d)
      val (_, maxK) = statsBounds(root, "o_orderkey", Some(4L))
      val band = Seq(FileStats.Range("o_orderkey",
        Some((maxK / 4).toString), Some((maxK * 5 / 8).toString)))
      def leg(v: Option[Long], tag: String) = {
        val c = SnapshotLake.fastCountWhere(s, root, band, v).get
        s.range(1).select(lit(tag).as("phase"), lit(c.rows).as("n_rows"),
          lit(c.metadataFiles.toLong).as("metadata_files"),
          lit(c.scannedFiles.toLong).as("scanned_files"),
          lit(c.prunedFiles.toLong).as("pruned_files"))
      }
      leg(Some(4L), "pre_delete").unionByName(leg(None, "post_delete"))
        .orderBy("phase")
    },

    // ── DataSource V2 connector: the lake read through
    //    spark.read.format("graftlake") — Catalyst pushes the band
    //    filter into the ScanBuilder, which prunes the file list via
    //    the sidecar index BEFORE planning (the kept files are the only
    //    input partitions), re-applies the filter row-level, and prunes
    //    columns down to the parquet projection. The result must equal
    //    the oracle's band aggregate exactly, and the `pruned` flag
    //    (kept < total, resolved from the planned scan itself) proves
    //    the index fired through the standard source API. File-range
    //    boundaries inside each commit are sampler-dependent, so the
    //    oracle pins the inequality, not a count (q219/q227 pin counts
    //    on layouts built for it).
    Q("q238_dsv2_connector_scan",
      s"""WITH b AS (SELECT max(l_orderkey) // 2 AS lo,
         |                  max(l_orderkey) * 5 // 8 AS hi FROM lineitem)
         |SELECT l_returnflag,
         |       count(*) AS n_rows,
         |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |       ${centsSumSql("l_extendedprice")} AS revenue,
         |       true AS pruned
         |FROM lineitem, b
         |WHERE l_orderkey >= b.lo AND l_orderkey <= b.hi
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val root = indexedLake(s, d)
      val (_, maxK) = statsBounds(root, "l_orderkey")
      val df = s.read.format("graftlake").load(root)
        .filter(col("l_orderkey") >= maxK / 2 &&
          col("l_orderkey") <= maxK * 5 / 8)
      val scan = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.collectFirst { case g: graft.sources.GraftLakeScan => g }
        .getOrElse(sys.error("plan must contain the graftlake scan"))
      df.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          centsSum("l_extendedprice").as("revenue"))
        .withColumn("pruned", lit(scan.keptFiles < scan.totalFiles))
        .orderBy("l_returnflag")
    },

    // ── Aggregate pushdown through the connector: COUNT(*)/MIN/MAX
    //    resolve against the rows/stats sidecars at PLANNING time — the
    //    physical plan's only source is the one-row GraftLakeAggScan, no
    //    data file is opened (Delta/Iceberg's numRecords fast path via
    //    the standard SupportsPushDownAggregates contract). q232 is the
    //    SnapshotLake-API twin; this proves the same metadata answers through
    //    spark.read.format(...).agg(...) with Spark's own partial-agg
    //    rewrite on top. `metadata_only` is resolved from the planned
    //    scan itself — the query fails loudly if the pushdown regresses
    //    to a file scan.
    Q("q239_dsv2_agg_pushdown",
      """SELECT count(*) AS n_rows,
        |       min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey,
        |       min(l_partkey) AS min_pkey, max(l_partkey) AS max_pkey,
        |       true AS metadata_only
        |FROM lineitem""".stripMargin) { (s, d) =>
      val root = indexedLake(s, d)
      val df = s.read.format("graftlake").load(root)
        .agg(count(lit(1)).as("n_rows"),
          min("l_orderkey").as("min_okey"), max("l_orderkey").as("max_okey"),
          min("l_partkey").as("min_pkey"), max("l_partkey").as("max_pkey"))
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.connector.read.Scan] = p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b.scan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
      }.flatten
      val pushed = scans(df.queryExecution.executedPlan)
        .collectFirst { case g: graft.sources.GraftLakeAggScan => g }
      pushed.getOrElse(sys.error("aggregate must push to the metadata scan"))
      df.withColumn("metadata_only", lit(pushed.nonEmpty))
    },

    // ── Runtime (join-driven) file pruning through the connector:
    //    Spark's dynamic-pruning machinery hands the broadcast dim's key
    //    set to the scan at EXECUTION time (SupportsRuntimeFiltering),
    //    and files whose sidecar orderkey range disproves every build key
    //    are dropped before any fact task launches — star-schema DPP
    //    over a source with no hive partitions at all, the keys
    //    re-checked by the join itself so pruning can't change answers.
    //    The dim filter (top eighth of the key space) is NOT pushed into
    //    the fact scan by Catalyst — only the runtime key set can prune
    //    here, so `runtime_pruned` (kept < total, read from the executed
    //    scan) fails loudly if the DPP path regresses.
    Q("q240_dsv2_runtime_pruned_join",
      s"""WITH b AS (SELECT max(l_orderkey) * 7 // 8 AS lo FROM lineitem),
         |d AS (SELECT o_orderkey, o_orderpriority FROM orders, b
         |      WHERE o_orderkey >= b.lo)
         |SELECT d.o_orderpriority,
         |       count(*) AS n_rows,
         |       ${centsSumSql("l_extendedprice")} AS revenue,
         |       true AS runtime_pruned
         |FROM lineitem JOIN d ON l_orderkey = d.o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val root = indexedLake(s, d)
      val (_, maxK) = statsBounds(root, "l_orderkey")
      val dim = Tables.orders(s, d)
        .filter(col("o_orderkey") >= maxK * 7 / 8)
        .select("o_orderkey", "o_orderpriority")
      // The broadcast hint is DELIBERATE, not a workaround: the dim is a
      // native parquet relation whose size estimate is the unfiltered
      // file size — at the 100× audit that is ~270 MB, over the 10 MB
      // threshold, while the filter's top-eighth slice is broadcast-safe
      // knowledge only the author has (no ANALYZE on raw paths). The
      // runtime-pruned flag below fails loudly if the broadcast (and
      // with it the runtime filter) ever stops firing. Small CONNECTOR
      // dims auto-broadcast hint-free from SupportsReportStatistics —
      // pinned by PlanShapeSpec's counterfactual.
      val agg = s.read.format("graftlake").load(root)
        .join(broadcast(dim), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          centsSum("l_extendedprice").as("revenue"))
      // ONE execution: the collect both materializes the result (runtime
      // filters fire during it) and feeds the returned frame — the scan's
      // kept/total are read from that same execution's plan
      val rows = agg.collect()
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.connector.read.Scan] = p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b.scan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
      }.flatten
      val scan = scans(agg.queryExecution.executedPlan)
        .collectFirst { case g: graft.sources.GraftLakeScan => g }
        .getOrElse(sys.error("plan must contain the graftlake scan"))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
        .withColumn("runtime_pruned", lit(scan.keptFiles < scan.totalFiles))
        .orderBy("o_orderpriority")
    },

    // ── Write path through the connector: INSERT OVERWRITE creates the
    //    lake (one atomic snapshot commit replacing any prior state —
    //    re-runs are idempotent), a second `mode("append")` commit lands
    //    the R slice, and the read-back rides the same connector with
    //    the commit-time stats index requested via
    //    `.option("statsCols", ...)`. The oracle recomputes both slices
    //    straight from the parquet table, so the whole
    //    write→manifest→sidecar→read cycle must round-trip every value
    //    exactly.
    Q("q241_dsv2_write_roundtrip",
      s"""SELECT l_returnflag, count(*) AS n_rows,
         |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |       ${centsSumSql("l_extendedprice")} AS revenue
         |FROM lineitem WHERE l_returnflag IN ('A', 'R')
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val root = Scratch.tempDir("graft-dsv2-write").toString + "/lake"
      val li = Tables.lineitem(s, d).select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      li.filter(col("l_returnflag") === "A")
        .write.format("graftlake").mode("overwrite")
        .option("statsCols", "l_orderkey").save(root)
      li.filter(col("l_returnflag") === "R")
        .write.format("graftlake").mode("append")
        .option("statsCols", "l_orderkey").save(root)
      s.read.format("graftlake").load(root)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          centsSum("l_extendedprice").as("revenue"))
        .orderBy("l_returnflag")
    },

    // ── STREAMING read through the connector:
    //    spark.readStream.format("graftlake") follows the manifest log
    //    (offsets = versions; one version per trigger here) and emits
    //    each append commit's rows exactly once into a second lake —
    //    the q235 tail contract behind Spark's standard micro-batch
    //    machinery, with skipChangeCommits skipping the merge and the
    //    compaction while still advancing the offset, restart resuming
    //    from the checkpoint (the fixture proves a replayed drain
    //    applies nothing). The tail side must equal the ORIGINAL orders
    //    while the source head carries the upserts — the asymmetry IS
    //    the append-bus contract, and the version pins (src 5, tail 5:
    //    one destination commit per source version, skips commit empty)
    //    prove exactly-once delivery per micro-batch.
    Q("q242_dsv2_streaming_tail",
      s"""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
         |srcv AS (
         |  SELECT 'src' AS side,
         |         CASE WHEN o_orderkey % 95 = 0 AND o_orderkey < mx // 3
         |              THEN 'T' ELSE o_orderstatus END AS o_orderstatus,
         |         CASE WHEN o_orderkey % 95 = 0 AND o_orderkey < mx // 3
         |              THEN o_totalprice + 4.0
         |              ELSE o_totalprice END AS o_totalprice
         |  FROM orders, m),
         |tl AS (SELECT 'tail' AS side, o_orderstatus, o_totalprice FROM orders),
         |u AS (SELECT * FROM srcv UNION ALL SELECT * FROM tl)
         |SELECT side, o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total,
         |       CAST(5 AS BIGINT) AS src_version,
         |       CAST(5 AS BIGINT) AS tail_version
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val (src, dst) = mbsTailLakes(s, d)
      def leg(root: String, tag: String) =
        SnapshotLake.read(s, root)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            centsSum("o_totalprice").as("total"))
          .withColumn("side", lit(tag))
          .select("side", "o_orderstatus", "n_rows", "total")
      leg(src, "src").unionByName(leg(dst, "tail"))
        .withColumn("src_version", lit(SnapshotLake.currentVersion(src).get))
        .withColumn("tail_version", lit(SnapshotLake.currentVersion(dst).get))
        .orderBy("side", "o_orderstatus")
    },

    // ── FILTERED COUNT pushed through the connector (q237's pruning
    //    arithmetic behind the standard SupportsPushDownAggregates
    //    contract): `.option("exactPushdown", "true")` accepts the band
    //    filters as PUSHED, which is what lets Spark push the aggregate;
    //    the scan then answers interior files from their _rows.json
    //    sidecars (metadata_files), opens ONLY the boundary file with a
    //    filter-columns-only projection (scanned_files), and never
    //    touches the provably-disjoint rest (pruned_files). The
    //    evidence counts resolve from the planned GraftLakeCountScan
    //    itself and the post-delete head answers 0 from zero opened
    //    files — both legs exact under the oracle, same literals as
    //    q237's fastCountWhere (a wrapper over this same count scan).
    Q("q243_dsv2_filtered_count",
      """WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
        |pre AS (
        |  SELECT 'pre_delete' AS phase, count(*) AS n_rows,
        |         CAST(1 AS BIGINT) AS metadata_files,
        |         CAST(1 AS BIGINT) AS scanned_files,
        |         CAST(2 AS BIGINT) AS pruned_files
        |  FROM orders, m
        |  WHERE o_orderkey >= mx // 4 AND o_orderkey <= mx * 5 // 8),
        |post AS (
        |  SELECT 'post_delete', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |         CAST(0 AS BIGINT), CAST(3 AS BIGINT))
        |SELECT * FROM pre UNION ALL SELECT * FROM post
        |ORDER BY phase""".stripMargin) { (s, d) =>
      val (root, _) = predDeletedLake(s, d)
      val (_, maxK) = statsBounds(root, "o_orderkey", Some(4L))
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.connector.read.Scan] = p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b.scan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
      }.flatten
      def leg(v: Option[Long], tag: String) = {
        var r = s.read.format("graftlake").option("exactPushdown", "true")
        v.foreach(x => r = r.option("versionAsOf", x.toString))
        val df = r.load(root)
          .filter(col("o_orderkey") >= maxK / 4 &&
            col("o_orderkey") <= maxK * 5 / 8)
          .agg(count(lit(1)).as("n_rows"))
        val scan = scans(df.queryExecution.executedPlan)
          .collectFirst { case c: graft.sources.GraftLakeCountScan => c }
          .getOrElse(sys.error("the filtered count must push to the count scan"))
        df.select(lit(tag).as("phase"), col("n_rows"),
          lit(scan.metadataFiles.toLong).as("metadata_files"),
          lit(scan.scannedFiles.toLong).as("scanned_files"),
          lit(scan.prunedFiles.toLong).as("pruned_files"))
      }
      leg(Some(4L), "pre_delete").unionByName(leg(None, "post_delete"))
        .orderBy("phase")
    },

    // ── SQL surface via the V2 TableCatalog: a lake registered once
    //    (CREATE TABLE ... USING graftlake LOCATION ...) answers PASTED
    //    SQL with time travel — `VERSION AS OF 4` resolves through
    //    TableCatalog.loadTable(ident, version) into a version-pinned
    //    connector table, and the band predicate still prunes files
    //    through the sidecar index (`pruned` is read from the executed
    //    scan, failing loudly if the index stops firing through SQL).
    //    The q90/q94 verbatim-SQL story extended to the lake.
    Q("q244_sql_catalog_time_travel",
      s"""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
         |SELECT o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total,
         |       true AS pruned
         |FROM orders, m
         |WHERE o_orderkey >= mx // 4 AND o_orderkey <= mx * 5 // 8
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val (root, _) = predDeletedLake(s, d)
      val (_, maxK) = statsBounds(root, "o_orderkey", Some(4L))
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftLakeCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_cat.warehouse",
        Scratch.tempDir("graft-cat-warehouse").toString)
      val tbl = f"orders_pd_${scala.util.hashing.MurmurHash3.stringHash(d) & 0x7fffffff}%08x"
      s.sql(s"CREATE TABLE IF NOT EXISTS graft_cat.lakes.$tbl " +
        s"USING graftlake LOCATION '$root'")
      val df = s.sql(
        s"""SELECT o_orderstatus, count(*) AS n_rows,
           |       CAST(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) AS BIGINT) / CAST(100.0 AS DOUBLE) AS total
           |FROM graft_cat.lakes.$tbl VERSION AS OF 4
           |WHERE o_orderkey >= ${maxK / 4} AND o_orderkey <= ${maxK * 5 / 8}
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.connector.read.Scan] = p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b.scan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
      }.flatten
      val scan = scans(df.queryExecution.executedPlan)
        .collectFirst { case g: graft.sources.GraftLakeScan => g }
        .getOrElse(sys.error("SQL over the catalog table must plan the graftlake scan"))
      df.withColumn("pruned", lit(scan.keptFiles < scan.totalFiles))
        .orderBy("o_orderstatus")
    },

    // ── Deletion-vector versions through the connector: v3 holds LIVE
    //    mod-13 key tombstones (merge-on-read — the connector's row path
    //    loads the vector per task and filters during the scan), v4 is
    //    the compaction that materialized them away (columnar path
    //    again). Both legs must aggregate identically — the vector is a
    //    physical state, not a semantic one — and equal the oracle's
    //    NOT (mod 13) aggregate. The version pins prove the two legs
    //    really read different physical states.
    Q("q245_dsv2_dv_read",
      s"""WITH f AS (SELECT l_returnflag, l_quantity, l_extendedprice
         |           FROM lineitem WHERE l_orderkey % 13 <> 0),
         |a AS (SELECT 'dv_live' AS phase, l_returnflag,
         |             count(*) AS n_rows,
         |             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |             ${centsSumSql("l_extendedprice")} AS revenue,
         |             CAST(3 AS BIGINT) AS version
         |      FROM f GROUP BY 2),
         |b AS (SELECT 'materialized' AS phase, l_returnflag,
         |             count(*), CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT),
         |             ${centsSumSql("l_extendedprice")}, CAST(4 AS BIGINT)
         |      FROM f GROUP BY 2)
         |SELECT * FROM a UNION ALL SELECT * FROM b
         |ORDER BY phase, l_returnflag""".stripMargin) { (s, d) =>
      val root = dvLake(s, d)
      def leg(v: Long, tag: String) =
        s.read.format("graftlake").option("versionAsOf", v.toString).load(root)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            centsSum("l_extendedprice").as("revenue"))
          .select(lit(tag).as("phase"), col("l_returnflag"), col("n_rows"),
            col("sum_qty"), col("revenue"), lit(v).as("version"))
      leg(3L, "dv_live").unionByName(leg(4L, "materialized"))
        .orderBy("phase", "l_returnflag")
    },

    // ── Hive-partitioned lake through the connector: the partition
    //    tuple is path-encoded (no partition column bytes in any data
    //    file) — the connector re-attaches it as constant vectors, and
    //    a partition predicate prunes FILES through the same mayMatch
    //    as the stats index (q227's composition through the standard
    //    source API). The aggregate groups BY the path-derived column,
    //    and `pruned` (kept < total, from the executed scan) fails
    //    loudly if partition pruning stops firing through the
    //    connector.
    Q("q246_dsv2_partitioned_read",
      s"""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
         |SELECT o_orderpriority, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total,
         |       true AS pruned
         |FROM orders, m
         |WHERE o_orderpriority >= '3' AND o_orderkey <= mx // 2
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val root = partitionedLake(s, d)
      val (_, maxK) = statsBounds(root, "o_orderkey")
      val df = s.read.format("graftlake").load(root)
        .filter(col("o_orderpriority") >= "3" && col("o_orderkey") <= maxK / 2)
      val scan = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.collectFirst { case g: graft.sources.GraftLakeScan => g }
        .getOrElse(sys.error("plan must contain the graftlake scan"))
      df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          centsSum("o_totalprice").as("total"))
        .withColumn("pruned", lit(scan.keptFiles < scan.totalFiles))
        .orderBy("o_orderpriority")
    },

    // ── The SQL table LIFECYCLE: a catalog-registered lake mutated
    //    entirely through pasted SQL — `DELETE FROM ... WHERE <band>`
    //    (v5: the copy-on-write three-way classification behind
    //    SupportsDelete — quartile 2 whole-drops by metadata) and
    //    `CALL graft_cat.system.restore(...)` (v6: the delete undone,
    //    zero data movement) — each state read back through VERSION AS
    //    OF with its op pinned from the CALL history procedure. The
    //    restored head must be BIT-EQUAL to the pre-delete table: the
    //    whole DELETE→RESTORE round trip is manifest arithmetic.
    Q("q247_sql_delete_restore",
      s"""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
         |pre AS (SELECT 'a_pre_delete' AS phase, count(*) AS n_rows,
         |               ${centsSumSql("o_totalprice")} AS total,
         |               CAST(4 AS BIGINT) AS version, 'append' AS op
         |        FROM orders),
         |post AS (SELECT 'b_post_delete', count(*),
         |                ${centsSumSql("o_totalprice")},
         |                CAST(5 AS BIGINT), 'delete'
         |         FROM orders, m
         |         WHERE o_orderkey < mx // 4 OR o_orderkey > mx * 5 // 8),
         |res AS (SELECT 'c_restored', count(*),
         |               ${centsSumSql("o_totalprice")},
         |               CAST(6 AS BIGINT), 'restore'
         |        FROM orders)
         |SELECT * FROM pre UNION ALL SELECT * FROM post
         |UNION ALL SELECT * FROM res ORDER BY phase""".stripMargin) { (s, d) =>
      val (root, tbl) = sqlLifecycleLake(s, d)
      val ops = s.sql(s"CALL graft_cat.system.history(table => 'lakes.$tbl')")
        .select("version", "op").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      def leg(v: Long, tag: String) =
        s.read.format("graftlake").option("versionAsOf", v.toString).load(root)
          .agg(count(lit(1)).as("n_rows"),
            centsSum("o_totalprice").as("total"))
          .select(lit(tag).as("phase"), col("n_rows"), col("total"),
            lit(v).as("version"), lit(ops(v)).as("op"))
      leg(4L, "a_pre_delete")
        .unionByName(leg(5L, "b_post_delete"))
        .unionByName(leg(6L, "c_restored"))
        .orderBy("phase")
    },

    // ── The PURE-CONNECTOR streaming pipeline:
    //    readStream.format("graftlake") → writeStream.format("graftlake")
    //    with NO foreachBatch glue — executors write epoch-task parquet
    //    through Spark's own ParquetWriteSupport, the driver turns each
    //    epoch into ONE tagged manifest commit (exactly-once: the
    //    fixture proves a checkpoint-replayed drain commits nothing),
    //    and the sink's commits harvest the requested stats index like
    //    any other. Same oracle as q242: the tail equals the ORIGINAL
    //    appends while the source head carries the upserts, and the
    //    version pins (src 5, tail 5 — one sink commit per source
    //    version, skipped commits included) prove per-epoch delivery.
    Q("q248_dsv2_streaming_sink",
      s"""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
         |srcv AS (
         |  SELECT 'src' AS side,
         |         CASE WHEN o_orderkey % 95 = 0 AND o_orderkey < mx // 3
         |              THEN 'T' ELSE o_orderstatus END AS o_orderstatus,
         |         CASE WHEN o_orderkey % 95 = 0 AND o_orderkey < mx // 3
         |              THEN o_totalprice + 4.0
         |              ELSE o_totalprice END AS o_totalprice
         |  FROM orders, m),
         |tl AS (SELECT 'tail' AS side, o_orderstatus, o_totalprice FROM orders),
         |u AS (SELECT * FROM srcv UNION ALL SELECT * FROM tl)
         |SELECT side, o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total,
         |       CAST(5 AS BIGINT) AS src_version,
         |       CAST(5 AS BIGINT) AS tail_version
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val (src, dst) = sinkTailLakes(s, d)
      def leg(root: String, tag: String) =
        SnapshotLake.read(s, root)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
            centsSum("o_totalprice").as("total"))
          .withColumn("side", lit(tag))
          .select("side", "o_orderstatus", "n_rows", "total")
      leg(src, "src").unionByName(leg(dst, "tail"))
        .withColumn("src_version", lit(SnapshotLake.currentVersion(src).get))
        .withColumn("tail_version", lit(SnapshotLake.currentVersion(dst).get))
        .orderBy("side", "o_orderstatus")
    },

    // ── SQL UPDATE + MERGE INTO over a catalog lake table — Spark's
    //    group-based copy-on-write row-level rewrites behind
    //    SupportsRowLevelOperations: the UPDATE's runtime group filter
    //    narrows the rewrite to the files holding matched rows (the
    //    `_file` metadata column drives it), the MERGE applies matched
    //    updates, matched deletes, and not-matched inserts in ONE
    //    statement and ONE manifest commit, and the conflict fence +
    //    sidecar re-harvest ride every rewrite. The oracle replays both
    //    statements over raw orders with CASE/filter/UNION arithmetic —
    //    the engine's final state must hash-match it exactly, with the
    //    version pins (update v5, merge v6) proving one commit each.
    Q("q249_sql_update_merge",
      s"""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
         |u AS (SELECT o_orderkey,
         |             CASE WHEN o_orderkey % 97 = 0 AND o_orderkey < mx // 2
         |                  THEN 'U' ELSE o_orderstatus END AS st,
         |             CASE WHEN o_orderkey % 97 = 0 AND o_orderkey < mx // 2
         |                  THEN o_totalprice + 2.0
         |                  ELSE o_totalprice END AS price
         |      FROM orders, m),
         |g AS (SELECT CASE WHEN o_orderkey % 91 = 0 THEN 'M' ELSE st END AS st,
         |             CASE WHEN o_orderkey % 91 = 0 THEN price + 3.0
         |                  ELSE price END AS price
         |      FROM u
         |      WHERE NOT (o_orderkey % 107 = 0 AND o_orderkey % 91 <> 0)),
         |ins AS (SELECT 'N' AS st, 1000.0 + i AS price FROM range(1, 31) t(i)),
         |f AS (SELECT st, price FROM g UNION ALL SELECT st, price FROM ins)
         |SELECT st AS o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("price")} AS total,
         |       CAST(5 AS BIGINT) AS update_version,
         |       CAST(6 AS BIGINT) AS merge_version
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val (root, tbl) = sqlDmlLake(s, d)
      s.sql(s"SELECT o_orderstatus, o_totalprice FROM $tbl")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          centsSum("o_totalprice").as("total"))
        .withColumn("update_version", lit(5L))
        .withColumn("merge_version",
          lit(SnapshotLake.currentVersion(root).get))
        .orderBy("o_orderstatus")
    },

    // ── SQL DDL schema evolution through the V2 catalog: `ALTER TABLE
    //    … ADD COLUMN rebate DOUBLE` maps onto a metadata-only `evolve`
    //    commit (v5 — the write-side twin of the mergeSchema read
    //    contract), the evolved shape INSERTs through the connector
    //    (v6), and BOTH reads hash-check: the head (old files null-fill
    //    the column, inserts carry it) and a `VERSION AS OF 4` pin that
    //    predates the evolution (the column ABSENT — n_cols proves it).
    Q("q250_sql_schema_evolution",
      s"""WITH m AS (SELECT count(*) AS n FROM orders),
         |reb AS (SELECT CAST(i AS DOUBLE) / 4.0 AS rebate FROM range(1, 41) t(i))
         |SELECT 'head' AS side, m.n + 40 AS n_rows, CAST(7 AS BIGINT) AS n_cols,
         |       CAST(40 AS BIGINT) AS rebate_rows,
         |       (SELECT ${centsSumSql("rebate")} FROM reb) AS rebate_cents
         |FROM m
         |UNION ALL
         |SELECT 'pre', m.n, CAST(6 AS BIGINT), CAST(0 AS BIGINT),
         |       CAST(0 AS DOUBLE)
         |FROM m
         |ORDER BY side""".stripMargin) { (s, d) =>
      val (_, tbl) = evoLake(s, d)
      val head = s.sql(s"SELECT * FROM $tbl")
      val pre = s.sql(s"SELECT * FROM $tbl VERSION AS OF 4")
      val headLeg = head.agg(
        count(lit(1)).as("n_rows"),
        count(col("rebate")).as("rebate_rows"),
        centsSum("rebate").as("rebate_cents"))
        .withColumn("side", lit("head"))
        .withColumn("n_cols", lit(head.schema.size.toLong))
      val preLeg = pre.agg(count(lit(1)).as("n_rows"))
        .withColumn("rebate_rows", lit(0L))
        .withColumn("rebate_cents", lit(0.0))
        .withColumn("side", lit("pre"))
        .withColumn("n_cols", lit(pre.schema.size.toLong))
      val cols = Seq("side", "n_rows", "n_cols", "rebate_rows", "rebate_cents")
      headLeg.select(cols.map(col): _*)
        .unionByName(preLeg.select(cols.map(col): _*))
        .orderBy("side")
    },

    // ── MERGE with the FULL Delta clause matrix — `WHEN NOT MATCHED BY
    //    SOURCE` in both its DELETE and UPDATE forms (first-match-wins
    //    ordering), next to matched-update and not-matched-insert, all in
    //    ONE statement and ONE group-based copy-on-write commit. The
    //    oracle replays the clause algebra over raw orders: matched keys
    //    (mod 89) restatus/reprice, unmatched mod-101 targets DELETE
    //    (clause order shields mod-103 overlaps), remaining mod-103
    //    targets update to 'X'/+7, 20 above-max source rows insert.
    Q("q251_merge_not_matched_by_source",
      s"""WITH base AS (
         |  SELECT CASE WHEN o_orderkey % 89 = 0 THEN 'M'
         |              WHEN o_orderkey % 103 = 0 THEN 'X'
         |              ELSE o_orderstatus END AS st,
         |         CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 3.0
         |              WHEN o_orderkey % 103 = 0 THEN o_totalprice + 7.0
         |              ELSE o_totalprice END AS price
         |  FROM orders
         |  WHERE NOT (o_orderkey % 89 <> 0 AND o_orderkey % 101 = 0)),
         |ins AS (SELECT 'N' AS st, 2000.0 + i AS price FROM range(1, 21) t(i)),
         |f AS (SELECT st, price FROM base UNION ALL SELECT st, price FROM ins)
         |SELECT st AS o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("price")} AS total,
         |       CAST(5 AS BIGINT) AS merge_version
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val (root, tbl) = nmbsLake(s, d)
      s.sql(s"SELECT o_orderstatus, o_totalprice FROM $tbl")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          centsSum("o_totalprice").as("total"))
        .withColumn("merge_version",
          lit(SnapshotLake.currentVersion(root).get))
        .orderBy("o_orderstatus")
    },

    // ── Bloom point lookup THROUGH the connector (q220's property on
    //    the standard filter API): a pushed equality on the bloom-indexed
    //    key consults the per-file bloom sidecars at planning time — the
    //    definitely-absent probe (an odd key over an even-keys-only lake,
    //    absent by construction at every scale) schedules ZERO input
    //    partitions (kept=0 pinned), and the {min, max} IN-probe keeps
    //    exactly the two files holding them. fpp 1e-8 on the fixture so
    //    the kept pins never ride false-positive luck.
    Q("q252_dsv2_bloom_point_lookup",
      """WITH e AS (SELECT * FROM lineitem WHERE l_orderkey % 2 = 0),
        |b AS (SELECT min(l_orderkey) AS mn, max(l_orderkey) AS mx FROM e),
        |hit AS (SELECT count(*) AS n_rows,
        |               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |        FROM e, b WHERE l_orderkey = b.mn OR l_orderkey = b.mx)
        |SELECT 'absent' AS side, CAST(0 AS BIGINT) AS n_rows,
        |       CAST(0 AS BIGINT) AS sum_qty,
        |       CAST(0 AS BIGINT) AS kept_files, CAST(4 AS BIGINT) AS total_files
        |UNION ALL
        |SELECT 'hit', n_rows, sum_qty, CAST(2 AS BIGINT), CAST(4 AS BIGINT)
        |FROM hit
        |ORDER BY side""".stripMargin) { (s, d) =>
      import s.implicits._
      val root = bloomLake(s, d)
      val (mn, mx) = statsBounds(root, "l_orderkey")
      val oddProbe = ((mn + mx) / 2) | 1L // odd ⇒ absent, inside the hull
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.connector.read.Scan] = p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b.scan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
      }.flatten
      // ONE execution per leg: the collect materializes the aggregate and
      // the kept/total evidence reads from that same execution's plan
      def leg(df: org.apache.spark.sql.DataFrame, side: String) = {
        val agg = df.agg(count(lit(1)).as("n"),
          coalesce(sum(col("l_quantity").cast("long")), lit(0L)).as("q"))
        val row = agg.collect()(0)
        val scan = scans(agg.queryExecution.executedPlan)
          .collectFirst { case g: graft.sources.GraftLakeScan => g }
          .getOrElse(sys.error("plan must contain the graftlake scan"))
        (side, row.getLong(0), row.getLong(1),
          scan.keptFiles.toLong, scan.totalFiles.toLong)
      }
      val load = s.read.format("graftlake").load(root)
      Seq(
        leg(load.filter(col("l_orderkey") === oddProbe), "absent"),
        leg(load.filter(col("l_orderkey").isin(mn, mx)), "hit"))
        .toDF("side", "n_rows", "sum_qty", "kept_files", "total_files")
        .orderBy("side")
    },

    // ── ALTER TABLE RENAME TO + write-side mergeSchema auto-evolution:
    //    a WIDER batch (new rebate column) appends through the plain
    //    `df.write.format("graftlake").option("mergeSchema","true")` —
    //    ONE commit carrying both the evolved schema declaration and
    //    the data files (Delta's autoMerge atomicity) — then the table
    //    renames; reads through the NEW name cover the head (additions
    //    carried, old files null-fill) and a pre-evolution pin, with
    //    the version count and the old name's absence pinned alongside.
    Q("q253_rename_automerge_append",
      s"""WITH m AS (SELECT count(*) AS n FROM orders),
         |reb AS (SELECT CAST(i AS DOUBLE) / 4.0 AS rebate FROM range(1, 41) t(i))
         |SELECT 'head' AS side, m.n + 40 AS n_rows, CAST(7 AS BIGINT) AS n_cols,
         |       CAST(40 AS BIGINT) AS rebate_rows,
         |       (SELECT ${centsSumSql("rebate")} FROM reb) AS rebate_cents,
         |       CAST(3 AS BIGINT) AS n_versions, TRUE AS old_name_gone
         |FROM m
         |UNION ALL
         |SELECT 'pre', m.n, CAST(6 AS BIGINT), CAST(0 AS BIGINT),
         |       CAST(0 AS DOUBLE), CAST(3 AS BIGINT), TRUE
         |FROM m
         |ORDER BY side""".stripMargin) { (s, d) =>
      val (root, tbl, oldTbl) = renamedLake(s, d)
      val head = s.sql(s"SELECT * FROM $tbl")
      val pre = s.sql(s"SELECT * FROM $tbl VERSION AS OF 2")
      val oldGone = !s.catalog.tableExists(oldTbl)
      val nv = SnapshotLake.currentVersion(root).get
      val headLeg = head.agg(
        count(lit(1)).as("n_rows"),
        count(col("rebate")).as("rebate_rows"),
        centsSum("rebate").as("rebate_cents"))
        .withColumn("side", lit("head"))
        .withColumn("n_cols", lit(head.schema.size.toLong))
      val preLeg = pre.agg(count(lit(1)).as("n_rows"))
        .withColumn("rebate_rows", lit(0L))
        .withColumn("rebate_cents", lit(0.0))
        .withColumn("side", lit("pre"))
        .withColumn("n_cols", lit(pre.schema.size.toLong))
      val cols = Seq("side", "n_rows", "n_cols", "rebate_rows", "rebate_cents")
      headLeg.select(cols.map(col): _*)
        .unionByName(preLeg.select(cols.map(col): _*))
        .withColumn("n_versions", lit(nv))
        .withColumn("old_name_gone", lit(oldGone))
        .orderBy("side")
    },

    // ── Metadata tables (`<table>.history` / `<table>.files` — the
    //    Iceberg surface): the commit log and the live file inventory
    //    as queryable relations, resolved ENTIRELY from manifests and
    //    sidecars (no data file opens — the scan is a driver-local
    //    row set). The oracle reconstructs every history row — per-
    //    quartile ingest counts, the metadata-only evolve, the evolved
    //    append — and the files-side totals from raw orders arithmetic.
    Q("q254_metadata_tables",
      s"""WITH m AS (SELECT max(o_orderkey) AS mx, count(*) AS n FROM orders),
         |h AS (
         |  SELECT CAST(1 AS BIGINT) AS version, 'append' AS op,
         |         CAST(1 AS BIGINT) AS n_files,
         |         (SELECT count(*) FROM orders, m
         |          WHERE o_orderkey < (mx * 1) // 4) AS added_rows
         |  UNION ALL SELECT 2, 'append', 2,
         |         (SELECT count(*) FROM orders, m
         |          WHERE o_orderkey >= (mx * 1) // 4 AND o_orderkey < (mx * 2) // 4)
         |  UNION ALL SELECT 3, 'append', 3,
         |         (SELECT count(*) FROM orders, m
         |          WHERE o_orderkey >= (mx * 2) // 4 AND o_orderkey < (mx * 3) // 4)
         |  UNION ALL SELECT 4, 'append', 4,
         |         (SELECT count(*) FROM orders, m
         |          WHERE o_orderkey >= (mx * 3) // 4 AND o_orderkey <= mx)
         |  UNION ALL SELECT 5, 'evolve', 4, 0
         |  UNION ALL SELECT 6, 'append', 5, 40)
         |SELECT h.version, h.op, h.n_files, h.added_rows,
         |       CAST(5 AS BIGINT) AS live_files,
         |       m.n + 40 AS live_rows
         |FROM h, m ORDER BY version""".stripMargin) { (s, d) =>
      val (_, tbl) = evoLake(s, d)
      val fsum = s.sql(
        s"SELECT count(*) AS lf, CAST(sum(rows) AS BIGINT) AS lr FROM $tbl.files").head
      s.sql(s"""SELECT version, op, CAST(n_files AS BIGINT) AS n_files,
               |added_rows FROM $tbl.history""".stripMargin)
        .withColumn("live_files", lit(fsum.getLong(0)))
        .withColumn("live_rows", lit(fsum.getLong(1)))
        .orderBy("version")
    },

    // ── CHANGE DATA FEED through the public connector API: the same
    //    five-commit source as q228 (two appends, a COW merge, a DV
    //    delete, a compact) followed into a fresh destination with
    //    `.option("readChangeFeed","true")` per version — appends read
    //    as constant-vector 'insert' partitions straight from their add
    //    files, change commits from the feed MATERIALIZED at commit
    //    time (enableCdf), compaction feeds zero — applied exactly-once
    //    under the destination's tag index, replay a no-op. The oracle
    //    reconstructs BOTH the destination state and the feed's
    //    per-change-type row counts from raw orders arithmetic.
    Q("q255_connector_change_feed",
      s"""WITH f AS (
         |  SELECT CASE WHEN o_orderkey % 91 = 0 THEN 'F2'
         |              ELSE o_orderstatus END AS o_orderstatus,
         |         CASE WHEN o_orderkey % 91 = 0 THEN o_totalprice + 3.0
         |              ELSE o_totalprice END AS o_totalprice
         |  FROM orders
         |  WHERE NOT (o_orderkey % 107 = 0 AND o_orderkey % 91 <> 0)
         |    AND o_orderkey % 113 <> 0),
         |cnt AS (
         |  SELECT (SELECT count(*) FROM orders) AS n_insert,
         |         (SELECT count(*) FROM orders
         |          WHERE o_orderkey % 91 = 0) AS n_update,
         |         (SELECT count(*) FROM orders
         |          WHERE o_orderkey % 107 = 0 AND o_orderkey % 91 <> 0)
         |         + (SELECT count(*) FROM orders
         |            WHERE o_orderkey % 113 = 0
         |              AND NOT (o_orderkey % 107 = 0 AND o_orderkey % 91 <> 0))
         |           AS n_delete)
         |SELECT o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("o_totalprice")} AS total,
         |       (SELECT n_insert FROM cnt) AS n_insert,
         |       (SELECT n_update FROM cnt) AS n_update,
         |       (SELECT n_delete FROM cnt) AS n_delete,
         |       CAST(5 AS BIGINT) AS n_src_versions,
         |       CAST(5 AS BIGINT) AS n_dst_versions
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val (src, dst) = cdfApiFollow(s, d)
      // the feed's own classification, read over the FULL range through
      // the public option surface (update_preimage counts equal the
      // postimages by construction and are pinned via n_update)
      val byType = s.read.format("graftlake")
        .option("readChangeFeed", "true").load(src)
        .groupBy("_change_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(byType.getOrElse("update_preimage", 0L) ==
        byType.getOrElse("update_postimage", 0L),
        "pre/post images must pair")
      SnapshotLake.read(s, dst)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          centsSum("o_totalprice").as("total"))
        .withColumn("n_insert", lit(byType.getOrElse("insert", 0L)))
        .withColumn("n_update", lit(byType.getOrElse("update_postimage", 0L)))
        .withColumn("n_delete", lit(byType.getOrElse("delete", 0L)))
        .withColumn("n_src_versions",
          lit(SnapshotLake.currentVersion(src).get))
        .withColumn("n_dst_versions",
          lit(SnapshotLake.currentVersion(dst).get))
        .orderBy("o_orderstatus")
    },

    // ── COLUMN MAPPING: RENAME/DROP COLUMN as metadata-only commits
    //    (Delta's physical-name indirection). The fixture renames the
    //    INDEXED key (o_orderkey → okey, v3), inserts 20 evolved-shape
    //    rows through the connector (v4), then drops o_orderpriority
    //    (v5) — requiring in-body that neither DDL commit touched a
    //    file, and that a pushed range on the RENAMED key still prunes
    //    to 1 of 3 files through the physically-keyed sidecar index.
    //    The oracle replays head (new names, 5 columns, orders+inserts)
    //    and a pre-rename pin (old names, 6 columns, orders alone) over
    //    raw orders — both legs hash-checked.
    Q("q256_column_mapping",
      s"""WITH m AS (SELECT count(*) AS n, max(o_orderkey) AS mx FROM orders),
         |u AS (SELECT o_orderkey AS okey, o_totalprice FROM orders
         |      UNION ALL
         |      SELECT (SELECT mx FROM m) + i,
         |             100.0 + CAST(i AS DOUBLE) FROM range(1, 21) t(i)),
         |agg AS (SELECT count(*) AS n_rows, CAST(sum(okey) AS BIGINT) AS key_sum,
         |               ${centsSumSql("o_totalprice")} AS price_cents FROM u),
         |pre AS (SELECT count(*) AS n_rows,
         |               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |               ${centsSumSql("o_totalprice")} AS price_cents FROM orders)
         |SELECT 'head' AS side, agg.n_rows, CAST(5 AS BIGINT) AS n_cols,
         |       agg.key_sum, agg.price_cents FROM agg
         |UNION ALL
         |SELECT 'pre', pre.n_rows, CAST(6 AS BIGINT), pre.key_sum,
         |       pre.price_cents FROM pre
         |ORDER BY side""".stripMargin) { (s, d) =>
      val (_, tbl, maxK) = cmapLake(s, d)
      // sidecar survival: the index was harvested under the PHYSICAL
      // name (o_orderkey); a pushed range on the logical name must
      // still prune the upper key half. Kept = 2 of 3: the lower half
      // matches, the SQL-INSERT file is unindexed (a bare INSERT can't
      // carry writer options) and is conservatively kept — WITHOUT the
      // logical→physical translation the range would miss the sidecar
      // keys entirely and keep all 3.
      val probe = s.table(tbl).filter(col("okey") <= lit(maxK / 4))
      val scan = probe.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.collectFirst { case sc: graft.sources.GraftLakeScan => sc }.get
      require(scan.keptFiles == 2 && scan.totalFiles == 3,
        s"the renamed key must keep pruning: kept=${scan.keptFiles}/${scan.totalFiles}")
      val head = s.table(tbl)
      val pre = s.sql(s"SELECT * FROM $tbl VERSION AS OF 2")
      require(pre.columns.contains("o_orderkey") && !pre.columns.contains("okey"),
        "a pin below the rename must read the old name")
      val headLeg = head.agg(
        count(lit(1)).as("n_rows"),
        sum("okey").as("key_sum"),
        centsSum("o_totalprice").as("price_cents"))
        .withColumn("side", lit("head"))
        .withColumn("n_cols", lit(head.schema.size.toLong))
      val preLeg = pre.agg(
        count(lit(1)).as("n_rows"),
        sum("o_orderkey").as("key_sum"),
        centsSum("o_totalprice").as("price_cents"))
        .withColumn("side", lit("pre"))
        .withColumn("n_cols", lit(pre.schema.size.toLong))
      val cols = Seq("side", "n_rows", "n_cols", "key_sum", "price_cents")
      headLeg.select(cols.map(col): _*)
        .unionByName(preLeg.select(cols.map(col): _*))
        .orderBy("side")
    },

    // ── BOUNDED BY-SOURCE MERGE: q251's sibling where every `WHEN NOT
    //    MATCHED BY SOURCE` clause carries a condition, so the COW
    //    rewrite replaces only the files holding affected rows
    //    ([[graft.plans.BoundBySourceMerge]] + Spark's own runtime group
    //    filtering): matches confined to the first key-quarter file,
    //    the by-source condition to the last — 2 of 4 base files
    //    replaced, and THAT count rides the hash-checked result
    //    (n_replaced) next to the clause algebra the oracle replays
    //    over raw orders. Without the narrowing the commit would
    //    replace all 4 (q251's honest full-rewrite shape for
    //    unconditioned clauses).
    Q("q257_merge_by_source_bounded",
      s"""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
         |f AS (
         |  SELECT CASE WHEN o_orderkey % 89 = 0
         |                   AND o_orderkey < (SELECT mx FROM m) // 4 THEN 'M'
         |              WHEN o_orderkey % 3 = 0
         |                   AND o_orderkey >= ((SELECT mx FROM m) * 3) // 4 THEN 'X'
         |              ELSE o_orderstatus END AS st,
         |         CASE WHEN o_orderkey % 89 = 0
         |                   AND o_orderkey < (SELECT mx FROM m) // 4
         |                THEN o_totalprice + 3.0
         |              WHEN o_orderkey % 3 = 0
         |                   AND o_orderkey >= ((SELECT mx FROM m) * 3) // 4
         |                THEN o_totalprice + 7.0
         |              ELSE o_totalprice END AS price
         |  FROM orders
         |  UNION ALL
         |  SELECT 'B', 500.0 + CAST(i AS DOUBLE) FROM range(1, 16) t(i))
         |SELECT st AS o_orderstatus, count(*) AS n_rows,
         |       ${centsSumSql("price")} AS total,
         |       CAST(2 AS BIGINT) AS n_replaced,
         |       CAST(4 AS BIGINT) AS n_base_files
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val (root, tbl) = mbsLake(s, d)
      val (_, _, removed, _) = SnapshotLake.commitDelta(root,
        SnapshotLake.currentVersion(root).get)
      s.sql(s"SELECT o_orderstatus, o_totalprice FROM $tbl")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          centsSum("o_totalprice").as("total"))
        .withColumn("n_replaced", lit(removed.size.toLong))
        .withColumn("n_base_files", lit(4L))
        .orderBy("o_orderstatus")
    }
  )

}
