package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Forwarder

/** Incremental-maintenance stress point (round-13 verdict ask #3's
  * measurement half): prove the incremental snapshot path's wall tracks
  * the DELTA size, not the feed size.
  *
  * Protocol per delta fraction f: split the feed at L = hi − f·span,
  * materialize the checkpoint state(≤L) and the (L, hi] delta each to
  * parquet (the production posture: state is a maintained artifact, the
  * delta is what actually arrived since), then time
  *   (a) FULL REPLAY: snapshotState over the whole feed → report, and
  *   (b) INCREMENTAL:  mergeSnapshotState(read state, read delta) → report,
  * and certify (a) ≡ (b) by an order-insensitive full-result hash
  * (sum of per-row xxhash64 over all columns — one distributed pass, no
  * driver materialization). Prints ONE JSON line; GRAFT_INC_OUT saves it.
  *
  * Knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, GRAFT_INC_FRACS
  * (default "0.10,0.01"). */
object IncMaintBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fracs = sys.env.getOrElse("GRAFT_INC_FRACS", "0.10,0.01")
      .split(',').map(_.trim.toDouble).toSeq
    Knobs.noteDir(sfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // local-mode heartbeat eviction is pure downside (see Bench)
      .config("spark.network.timeout", "1800s")
      .config("spark.executor.heartbeatInterval", "300s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val work = java.nio.file.Files.createTempDirectory("graft-incmaint-").toString
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // order-insensitive multiset hash: exact decimal sum of per-row
    // xxhash64 (additive across a disjoint union — closed + new == full —
    // and wide enough that 10^20 rows cannot overflow DECIMAL(38,0))
    def resultHash(df: DataFrame): java.math.BigDecimal =
      df.select(xxhash64(struct(df.columns.map(col): _*))
          .cast("decimal(38,0)").as("h"))
        .agg(coalesce(sum("h"), lit(java.math.BigDecimal.ZERO)))
        .head().getDecimal(0)

    val routed = Forwarder.routedKeyed(spark, sfDir)
    val (bounds, feedScanSec) = timed {
      routed.agg(count(lit(1)), min("lsn"), max("lsn")).head()
    }
    val (feedRows, lo, hi) =
      (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2))

    // full replay once (shared across fractions — it does not depend on f)
    val (fullHash, fullSec) = timed {
      resultHash(Forwarder.stateToSnapshot(Forwarder.snapshotState(routed)))
    }

    def f2(v: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    // scd2 family: full replay once; per point the checkpoint ships the
    // IMMUTABLE closed set + 1-row-per-entity cursor; the merge produces
    // only the new rows, and the additive row-hash certifies
    // closed ∪ new ≡ replay without ever re-reading the closed set into
    // a sort or join (sum of per-row hashes is multiset-additive)
    val routedNn = routed.where(col("uid").isNotNull)
    val (scd2FullHash, scd2FullSec) = timed {
      resultHash(Forwarder.scd2Closed(routedNn).unionByName(
        Forwarder.scd2New(Forwarder.scd2Cursor(routedNn), routedNn.limit(0))))
    }

    val points = fracs.map { f =>
      val l = hi - math.max(1L, ((hi - lo) * f).toLong)
      val statePath = s"$work/state_$f"
      val deltaPath = s"$work/delta_$f"
      val (_, ckptSec) = timed {
        Forwarder.snapshotState(routed.where(col("lsn") <= l))
          .write.mode("overwrite").parquet(statePath)
      }
      val (_, deltaWriteSec) = timed {
        routed.where(col("lsn") > l)
          .write.mode("overwrite").parquet(deltaPath)
      }
      val state = spark.read.parquet(statePath)
      val delta = spark.read.parquet(deltaPath)
      val stateRows = state.count()
      val deltaRows = delta.count()
      // THE measurement: merge from checkpoint + delta only — no feed scan
      val (incHash, incSec) = timed {
        resultHash(Forwarder.stateToSnapshot(
          Forwarder.mergeSnapshotState(state, delta)))
      }
      // scd2: checkpoint = closed parquet (hashed once at write, its rows
      // never move again) + cursor parquet; merge = new rows only
      val pre = routedNn.where(col("lsn") <= l)
      val deltaNn = delta.where(col("uid").isNotNull)
      val closedPath = s"$work/scd2_closed_$f"
      val cursorPath = s"$work/scd2_cursor_$f"
      val (_, scd2CkptSec) = timed {
        Forwarder.scd2Closed(pre).write.mode("overwrite").parquet(closedPath)
        Forwarder.scd2Cursor(pre).write.mode("overwrite").parquet(cursorPath)
      }
      val closedDf = spark.read.parquet(closedPath)
      val cursorDf = spark.read.parquet(cursorPath)
      val cursorRows = cursorDf.count()
      val (newHash, scd2IncSec) = timed {
        resultHash(Forwarder.scd2New(cursorDf, deltaNn))
      }
      val (closedHash, closedHashSec) = timed { resultHash(closedDf) }
      s"""{"frac":$f,"split_lsn":$l,"state_rows":$stateRows,"delta_rows":$deltaRows""" +
        s""","ckpt_build_sec":${f2(ckptSec)},"delta_write_sec":${f2(deltaWriteSec)}""" +
        s""","inc_merge_sec":${f2(incSec)},"speedup_vs_replay":${f2(fullSec / incSec)}""" +
        s""","matches_replay":${incHash.compareTo(fullHash) == 0}""" +
        s""","scd2_cursor_rows":$cursorRows,"scd2_ckpt_build_sec":${f2(scd2CkptSec)}""" +
        s""","scd2_inc_merge_sec":${f2(scd2IncSec)}""" +
        s""","scd2_closed_hash_sec":${f2(closedHashSec)}""" +
        s""","scd2_speedup_vs_replay":${f2(scd2FullSec / scd2IncSec)}""" +
        s""","scd2_matches_replay":${closedHash.add(newHash).compareTo(scd2FullHash) == 0}}"""
    }
    val line =
      s"""{"metric":"inc_maintenance","unit":"sec","sf":"$sfDir","feed_rows":$feedRows""" +
        s""","feed_scan_sec":${f2(feedScanSec)},"full_replay_sec":${f2(fullSec)}""" +
        s""","scd2_full_replay_sec":${f2(scd2FullSec)}""" +
        s""","points":${points.mkString("[", ",", "]")}}"""
    println(line)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("GRAFT_INC_OUT", "INC_MAINT_last.json")), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
