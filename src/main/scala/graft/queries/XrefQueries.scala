package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.SttmOps
import QuerySupport._

/** XREF state: latest-by-key snapshots, the snapshot store's
  * merge/reshard path and delete-flag exclusion. */
private[graft] object XrefQueries extends QueryLayer("xref") {
  lazy val defs: Seq[QueryDef] = Seq(

    // A1+A2 — XREF latest-by-key snapshot (row_number over pk, rn=1).
    // Pre-projection before the aggregate: max_by(struct(*)) would otherwise
    // carry the unused props payload through the shuffle.
    query("q_xref_latest")(
      """SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) WHERE rn = 1 ORDER BY user_id""")((s, dir) => {
      xrefLatest(Tables.events(s, dir)
          .select("user_id", "event_id", "event_type", "value", "ts"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
        .orderBy("user_id")
    }),

    // A2 at the storage layer, end-to-end through the LSM snapshot store:
    // two delta-segment merges (odd/even event halves), an explicit
    // reshard 4 -> 16 buckets (the full-rewrite compaction variant), then
    // a merge-on-read serve. The oracle is the plain batch latest-by-key
    // mirror — a hash match proves segment append + cross-segment
    // latest-by-key + reshard are collectively value-neutral, in the gate
    // every round (the spec-level bit-identity case, promoted to an
    // oracle row). Fresh temp store per invocation; cleaned up after the
    // serve materializes.
    query("q_xref_reshard")(
      // storage-layer twin: segment merges + reshard + merge-on-read must
      // collectively equal the one-shot batch latest-by-key
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) WHERE rn = 1 ORDER BY user_id""")((s, dir) => {
      val work = java.nio.file.Files.createTempDirectory("graft_reshard_q")
      val store = new streaming.SnapshotStore(s"$work/snap", nBuckets = 4)
      val ev = Tables.events(s, dir)
        .select("user_id", "event_id", "ts", "value")
      val keys = Seq("user_id")
      val order = Seq("ts", "event_id")
      store.merge(ev.filter(pmod(col("event_id"), lit(2)) === 0), keys, order)
      store.merge(ev.filter(pmod(col("event_id"), lit(2)) === 1), keys, order)
      store.reshard(s, 16)
      val res = store.read(s).get
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
        .orderBy("user_id")
        .localCheckpoint()
      graft.operators.GenStore.deleteRecursively(work)
      res
    }),

    // F6+A1 — delete-flag exclusion before ranking ('error' plays the
    // delete_flag role; sttm-requirements.md:77-84).
    query("q_xref_delete_flag")(
      """SELECT user_id, event_id, event_type
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events WHERE event_type IS NULL OR event_type <> 'error')
         WHERE rn = 1 ORDER BY user_id""")((s, dir) => {
      xrefLatest(SttmOps.excludeDeleted(
          Tables.events(s, dir).select("user_id", "event_id", "event_type", "ts"),
          "event_type", Seq("error")))
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy("user_id")
    })
  )
}
