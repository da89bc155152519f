package graft

import graft.operators.IcebergCatalog
import org.apache.spark.sql.functions._

/** Snapshot-expiry GC semantics: the current snapshot survives any cutoff,
  * files shared with a retained snapshot are never deletable, and only
  * expired-exclusive files (with their bytes) reach the GC plan. */
class IcebergMaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("expireSnapshots: retain-current, shared files safe, exclusive files GC'd") {
    // t1: snaps 1 (old), 2 (old), 3 (old but latest) — all pre-cutoff;
    // t2: snap 4 (old), snap 5 (recent)
    val snaps = Seq(
      ("t1", 1L, ts("1996-01-01 00:00:00")),
      ("t1", 2L, ts("1996-06-01 00:00:00")),
      ("t1", 3L, ts("1996-12-01 00:00:00")),
      ("t2", 4L, ts("1996-03-01 00:00:00")),
      ("t2", 5L, ts("1998-01-01 00:00:00"))
    ).toDF("table_id", "snapshot_id", "ts")
    val refs = Seq(
      (1L, "a.parquet", 100L), // only in expired snap 1 → deletable
      (1L, "b.parquet", 200L), // shared with latest (snap 3) → safe
      (2L, "c.parquet", 300L), // only in expired snap 2 → deletable
      (3L, "b.parquet", 200L),
      (3L, "d.parquet", 400L), // latest-only → live
      (4L, "x.parquet", 500L), // expired-only in t2 → deletable
      (5L, "y.parquet", 600L)
    ).toDF("snapshot_id", "file", "bytes")
    val plan = IcebergCatalog.expireSnapshots(snaps, refs,
      to_timestamp(lit("1997-01-01 00:00:00"))).collect()
    val byTable = plan.map(r => r.getString(0) -> r).toMap

    val t1 = byTable("t1")
    assert(t1.getAs[Long]("n_snapshots") == 3L)
    // snap 3 is pre-cutoff but latest → retained; only 1 and 2 expire
    assert(t1.getAs[Long]("n_expired") == 2L)
    assert(t1.getAs[Long]("n_live_files") == 2L) // b, d
    assert(t1.getAs[Long]("n_deletable_files") == 2L) // a, c
    assert(t1.getAs[Long]("deletable_bytes") == 400L)

    val t2 = byTable("t2")
    assert(t2.getAs[Long]("n_expired") == 1L)
    assert(t2.getAs[Long]("n_deletable_files") == 1L) // x
    assert(t2.getAs[Long]("deletable_bytes") == 500L)
  }

  test("expireSnapshots: a file with differing bytes across entries fails loudly") {
    val snaps = Seq(("t1", 1L, ts("1996-01-01 00:00:00")),
      ("t1", 2L, ts("1998-01-01 00:00:00"))).toDF("table_id", "snapshot_id", "ts")
    // b.parquet is live (snap 2), so its size reaches no deletable sum:
    // the check must not depend on the file being deletable
    val refs = Seq((1L, "a.parquet", 10L), (1L, "b.parquet", 20L), (2L, "b.parquet", 21L))
      .toDF("snapshot_id", "file", "bytes")
    val err = intercept[Exception] {
      IcebergCatalog.expireSnapshots(snaps, refs,
        to_timestamp(lit("1997-01-01 00:00:00"))).collect()
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(msgs.exists(_.contains("file b.parquet of table t1 has manifest entries with differing bytes")),
      msgs.mkString(" | "))
  }

  test("expireSnapshots: nothing expires when every snapshot is recent") {
    val snaps = Seq(("t1", 1L, ts("1998-01-01 00:00:00")),
      ("t1", 2L, ts("1998-02-01 00:00:00"))).toDF("table_id", "snapshot_id", "ts")
    val refs = Seq((1L, "a.parquet", 10L), (2L, "b.parquet", 20L))
      .toDF("snapshot_id", "file", "bytes")
    val plan = IcebergCatalog.expireSnapshots(snaps, refs,
      to_timestamp(lit("1997-01-01 00:00:00"))).collect()
    assert(plan.length == 1)
    assert(plan.head.getAs[Long]("n_expired") == 0L)
    assert(plan.head.getAs[Long]("n_deletable_files") == 0L)
    assert(plan.head.getAs[Long]("deletable_bytes") == 0L)
  }
}
