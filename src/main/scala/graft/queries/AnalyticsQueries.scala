package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QuerySupport._

/** Event analytics: rollups, pivots, percentiles, range/as-of/salted
  * joins, sessionization, funnels and fuzzy entity resolution. */
private[graft] object AnalyticsQueries extends QueryLayer("analytics") {
  lazy val defs: Seq[QueryDef] = Seq(

    // OLAP subtotals: ROLLUP over (event_type, day) — per-type-per-day,
    // per-type, and grand-total rows from ONE aggregation pass (partial
    // aggs expand the grouping sets map-side; no per-level rescan). Value
    // summed as floored integer cents for cross-engine exactness.
    query("q_rollup_daily")(
      """WITH e AS (SELECT event_type,
           epoch_us(ts) // 86400000000 AS d,
           CAST(floor(value * 100) AS BIGINT) AS cents FROM events)
         SELECT event_type, d, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents_sum
         FROM e GROUP BY ROLLUP (event_type, d)
         ORDER BY event_type ASC NULLS FIRST, d ASC NULLS FIRST""")((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("d"),
        floor(col("value") * 100).cast("long").as("cents"))
      ev.rollup(col("event_type"), col("d"))
        .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
        .orderBy(col("event_type").asc_nulls_first, col("d").asc_nulls_first)
    }),

    // Blocked fuzzy entity resolution: dirty strings (one deterministic
    // char deletion) resolved back to canonical ids via pigeonhole
    // prefix/suffix blocking + levenshtein verify — two hash equi-joins
    // and one edit-distance call per candidate, never all-pairs.
    query("q_fuzzy_resolve")(
      s"""WITH base AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS name
                       FROM documents),
         dirty AS (SELECT doc_id AS did, ${dropCharSql("name", "doc_id % 32")} AS dname
           FROM base),
         lb AS (SELECT did, dname, unnest(['p' || substr(dname, 1, 4),
                  's' || substr(dname, length(dname) - 3, 4)]) AS blk
                FROM dirty),
         rb AS (SELECT doc_id, name, unnest(['p' || substr(name, 1, 4),
                  's' || substr(name, length(name) - 3, 4)]) AS blk
                FROM base),
         cand AS (SELECT DISTINCT did, dname, doc_id, name
                  FROM lb JOIN rb USING (blk))
         SELECT did AS l_id, doc_id AS r_id,
           CAST(levenshtein(dname, name) AS INT) AS dist
         FROM cand WHERE levenshtein(dname, name) <= 1
         ORDER BY l_id, r_id""")((s, dir) => {
      val base = fuzzyNames(s, dir)
      val dirty = base.select(col("doc_id").as("did"),
        dropChar("name", "doc_id % 32", 32).as("dname"))
      operators.Fuzzy.resolveByEdit(dirty, "did", "dname",
          base, "doc_id", "name")
        .orderBy("l_id", "r_id")
    }),

    // General edit-distance-2 resolution via PassJoin segment blocking
    // (k+1 segments, position-tolerant probes, ONE equi-join). The oracle
    // is the brute-force all-pairs levenshtein — hash equality therefore
    // PROVES the blocking is exact (recall 1) on this corpus, while the
    // Spark plan never goes quadratic.
    query("q_fuzzy_resolve2")(
      s"""WITH base AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS name
                       FROM documents),
         d1 AS (SELECT doc_id, ${dropCharSql("name", "doc_id % 32")} AS s1
           FROM base),
         dirty AS (SELECT doc_id AS did, ${dropCharSql("s1", "(doc_id * 7) % 31")} AS dname
           FROM d1)
         SELECT did AS l_id, b.doc_id AS r_id,
           CAST(levenshtein(dname, name) AS INT) AS dist
         FROM dirty, base b WHERE levenshtein(dname, name) <= 2
         ORDER BY l_id, r_id""")((s, dir) => {
      val base = fuzzyNames(s, dir)
      val dirty = base
        .select(col("doc_id"), dropChar("name", "doc_id % 32", 32).as("s1"))
        .select(col("doc_id").as("did"), dropChar("s1", "(doc_id * 7) % 31", 31).as("dname"))
      operators.Fuzzy.resolveByEditK(dirty, "did", "dname",
          base, "doc_id", "name", maxDist = 2)
        .orderBy("l_id", "r_id")
    }),

    // Rolling z-score anomaly flags: each user's value stream tested
    // against its own trailing 20-event window via the exact-integer
    // restatement (n*x - S)^2 > k^2 * (n*Q - S^2) — reproducible outlier
    // detection with one per-key bounded ROWS window.
    query("q_anomaly_zscore")(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
         r AS (SELECT user_id, ts_us, cents,
           sum(cents) OVER w AS s,
           sum(cents * cents) OVER w AS q,
           CAST(count(*) OVER w AS BIGINT) AS win_n
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         SELECT user_id, ts_us, cents, win_n,
           win_n = 20 AND
             (win_n * cents - s) * (win_n * cents - s) >
               9 * (win_n * q - s * s) AS flag
         FROM r ORDER BY user_id, ts_us""")((s, dir) => {
      operators.Anomaly.rollingZ(Tables.events(s, dir),
          "user_id", "ts", "event_id", "value", n = 20, k2 = 9)
        .orderBy("user_id", "ts_us")
    }),

    // Snapshot diff: classify every key across two corpus versions as
    // added/removed/changed/unchanged — the regression audit between
    // pipeline runs. Each side reduces to (key, md5 fingerprint) BEFORE
    // the single full-outer equi-join, so wide payloads never shuffle.
    // v2 is derived deterministically: drop %17 keys, edit %13 texts,
    // add %19 copies under new ids.
    query("q_snapshot_diff")(
      """WITH v2 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN text || ' v2edit' ELSE text END
               AS text, lang, source
           FROM documents WHERE doc_id % 17 <> 0
           UNION ALL
           SELECT doc_id + 1000000, text, lang, source FROM documents
           WHERE doc_id % 19 = 0),
         o AS (SELECT doc_id, md5(coalesce(text, '') || chr(1) ||
                 coalesce(lang, '') || chr(1) || coalesce(source, ''))
                 AS old_fp FROM documents),
         n AS (SELECT doc_id, md5(coalesce(text, '') || chr(1) ||
                 coalesce(lang, '') || chr(1) || coalesce(source, ''))
                 AS new_fp FROM v2),
         j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, old_fp, new_fp
               FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         SELECT doc_id,
           CASE WHEN old_fp IS NULL THEN 'added'
                WHEN new_fp IS NULL THEN 'removed'
                WHEN old_fp <> new_fp THEN 'changed'
                ELSE 'unchanged' END AS status,
           old_fp, new_fp
         FROM j ORDER BY doc_id""")((s, dir) => {
      val v1 = Tables.documents(s, dir)
      val v2 = v1.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2edit")))
            .otherwise(col("text")))
        .unionByName(v1.filter(col("doc_id") % 19 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      operators.Diff.snapshotDiff(v1, v2, "doc_id", Seq("text", "lang", "source"))
        .orderBy("doc_id")
    }),

    // SCD2 temporal history: each user's event_type change stream collapsed
    // into [valid_from, valid_to) validity intervals (open current run) —
    // the full-lineage complement of the latest-by-key XREF surface. ONE
    // hash exchange; both windows and the run-id sum share the per-key
    // ordering.
    query("q_scd2_history")(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           event_type AS value FROM events),
         r AS (SELECT *, CASE WHEN lag(value) OVER w IS NULL
                 OR lag(value) OVER w <> value THEN 1 ELSE 0 END AS chg
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         rr AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS run
                FROM r),
         iv AS (SELECT user_id, run, value, min(ts_us) AS valid_from_us,
                 CAST(count(*) AS BIGINT) AS n_events
                FROM rr GROUP BY user_id, run, value),
         fin AS (SELECT user_id, value, valid_from_us,
                 lead(valid_from_us) OVER (PARTITION BY user_id
                   ORDER BY valid_from_us) AS valid_to_us,
                 n_events FROM iv)
         SELECT user_id, value, valid_from_us, valid_to_us, n_events
         FROM fin ORDER BY user_id, valid_from_us, value""")((s, dir) => {
      operators.Scd.scd2History(Tables.events(s, dir),
          "user_id", "ts", "event_id", "event_type")
        .orderBy("user_id", "valid_from_us", "value")
    }),

    // Z-order layout audit: Morton-interleave (user_id, floor(value)) and
    // report each 4096-z-cell tile's row count and per-dimension extents.
    // The bounded min/max boxes per contiguous z-tile ARE the pruning
    // contract Layout.zorderWrite stamps into parquet file stats; the
    // oracle mirrors the interleave arithmetic bit-for-bit.
    query("q_zorder_layout")(
      s"""WITH d AS (SELECT CAST(user_id AS BIGINT) AS u,
           CAST(floor(value) AS BIGINT) AS v FROM events),
         z AS (SELECT u, v,
           ${operators.Layout.zValueSql(Seq("u", "v"), bits = 10)} AS z FROM d)
         SELECT z // 4096 AS z_tile, CAST(count(*) AS BIGINT) AS n,
           min(u) AS min_u, max(u) AS max_u, min(v) AS min_v, max(v) AS max_v
         FROM z GROUP BY 1 ORDER BY z_tile""")((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("user_id").cast("long").as("u"),
        floor(col("value")).cast("long").as("v"))
      ev.withColumn("z", operators.Layout.zValue(Seq(col("u"), col("v")), bits = 10))
        .groupBy(shiftright(col("z"), 12).as("z_tile"))
        .agg(count(lit(1)).as("n"),
          min("u").as("min_u"), max("u").as("max_u"),
          min("v").as("min_v"), max("v").as("max_v"))
        .orderBy("z_tile")
    }),

    // Pivot: days x event-type count matrix through the DataFrame pivot
    // API (fixed value list, so the schema is static and the plan is one
    // aggregation — Spark rewrites it to conditional counts, the same
    // CASE sums the oracle states explicitly).
    query("q_pivot_daily")(
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS d, event_type
                    FROM events)
         SELECT d,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
         FROM e GROUP BY d ORDER BY d""")((s, dir) => {
      val ev = Tables.events(s, dir).select(
        expr("unix_micros(ts) div 86400000000").as("d"), col("event_type"))
      ev.groupBy("d")
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("d")
    }),

    // Range join via banding: ordered pairs of same-user events within a
    // 2-hour window — the interval theta join rewritten to a hash
    // equi-join on (user, time-bucket) with the earlier side exploded to
    // its bucket and the next (any pair within W is at most one bucket
    // apart), exact predicate filtered in-stage. No nested loop.
    query("q_range_pairs")(rangePairsMirrorSql)((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      operators.RangeJoin.withinWindowPairs(ev, "user_id", "us", "event_id",
          window = 7200000000L)
        .orderBy("id1", "id2")
    }),

    // As-of join: for each purchase, the latest click by the same user at
    // or before purchase time — the time-series enrichment join, encoded
    // as UNION + one per-key ordered window (linear, sessionization plan
    // shape) instead of a quadratic range theta join. DuckDB verifies with
    // its NATIVE ASOF JOIN, so the semantics are pinned to the standard.
    query("q_asof_join")(
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS us
                    FROM events WHERE event_type = 'purchase'),
         rr AS (SELECT user_id, epoch_us(ts) AS us, event_id, value
                FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, us, max(event_id) AS r_id,
                 arg_max(value, event_id) AS r_val
               FROM rr GROUP BY user_id, us)
         SELECT l.event_id, l.user_id, l.us,
           r.r_id AS asof_event_id, r.r_val AS asof_value
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.us >= r.us
         ORDER BY l.event_id""")((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "us")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "us", "event_id", "value")
      operators.AsOf.asOfJoin(purchases, clicks, "user_id", "us",
          "event_id", "value")
        .orderBy("event_id")
    }),

    // Exact percentile report (the SLA table: p50/p90/p99 of the event
    // value) via two-phase range-bucketed selection: bucket counts locate
    // each percentile's target bucket, and the ordered selection runs only
    // INSIDE that bucket (window partitioned by bucket id) — no global
    // histogram window, so no single task ever sorts the full distinct-
    // value set. The percentile is the exact k-th smallest
    // (k = ceil(p*n/100)); no interpolation, no arithmetic on the doubles,
    // so any engine returns the identical stored value.
    query("q_value_percentiles")(
      """WITH v AS (SELECT value FROM events),
         h AS (SELECT value, CAST(count(*) AS BIGINT) AS cnt
               FROM v GROUP BY value),
         c AS (SELECT value, sum(cnt) OVER (ORDER BY value
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM h),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v)
         SELECT CAST(50 AS BIGINT) AS pct, min(value) AS value
         FROM c CROSS JOIN n WHERE cum >= (50 * n + 99) // 100
         UNION ALL
         SELECT 90, min(value) FROM c CROSS JOIN n
         WHERE cum >= (90 * n + 99) // 100
         UNION ALL
         SELECT 99, min(value) FROM c CROSS JOIN n
         WHERE cum >= (99 * n + 99) // 100
         ORDER BY pct""")((s, dir) => {
      val ev = Tables.events(s, dir).select(col("value"))
      operators.Percentiles.exactKth(ev, "value", Seq(50, 90, 99))
        .orderBy("pct")
    }),

    // Grouped form of the exact percentile report: p50/p90/p99 document
    // token length PER SOURCE (the per-domain gate report). The group key
    // threads through every two-phase stage, so all windows stay
    // partitioned — no task sorts more than one group's share of one
    // bucket.
    query("q_group_percentiles")(
      """WITH t AS (SELECT source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS v FROM documents),
         n AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM t
               GROUP BY source),
         r AS (SELECT source, v,
           row_number() OVER (PARTITION BY source ORDER BY v) AS rn FROM t),
         ps AS (SELECT unnest([50, 90, 99]) AS p),
         sel AS (SELECT n.source, ps.p, (ps.p * n.n + 99) // 100 AS k
                 FROM n, ps)
         SELECT s.source, CAST(s.p AS BIGINT) AS pct, r.v AS value
         FROM sel s JOIN r ON r.source = s.source AND r.rn = s.k
         ORDER BY s.source, pct""")((s, dir) => {
      val d = Tables.documents(s, dir).select(col("source"),
        size(split(col("text"), " ")).cast("long").as("v"))
      operators.Percentiles.exactKthByGroup(d, "source", "v",
          Seq(50, 90, 99), nBuckets = 64)
        .orderBy("source", "pct")
    }),

    // Sketch twin of the exact report — ONE aggregation pass over the raw
    // values (KLL/GK-style percentile_approx, error bounded by the
    // accuracy parameter), no histogram, no second phase: the cheapest
    // 100-TB path when the SLA tolerates approximate quantiles. Oracle-
    // gated AS A BOUND (VERDICT r11 #6; sketch internals have no
    // cross-engine mirror, but the accuracy guarantee does): the returned
    // value's rank must sit within n/accuracy of the target rank, so one
    // exact counting pass turns the guarantee into integer rows DuckDB
    // hash-verifies — ok = the approx value's [count(<v)+1, count(<=v)]
    // rank interval overlaps target ± (n/accuracy + 1). Production runs
    // the sketch pass alone; the exact pass IS the gate. Driver-side
    // collects are two 1-row aggregates (metadata-bounded).
    query("q_value_percentiles_approx")(
      // bound gate: the Spark side computes ok from the sketch's rank
      // guarantee against an exact counting pass; the mirror states the
      // invariant (ok = 1 for every pct, n exact) — a sketch drifting out of
      // its accuracy bound hash-mismatches here
      """SELECT CAST(pct AS BIGINT) AS pct,
           (SELECT CAST(count(*) AS BIGINT) FROM events) AS n,
           CAST(1 AS INT) AS ok
         FROM (VALUES (50), (90), (99)) t(pct) ORDER BY pct""")((s, dir) => {
      val ev = Tables.events(s, dir).select(col("value"))
      val acc = 10000
      val head = ev.agg(
        percentile_approx(col("value"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(acc)).as("ps"),
        count(lit(1)).as("n")).head()
      val ps = head.getSeq[Double](0)
      val n = head.getLong(1)
      val rankExprs = Seq(0, 1, 2).flatMap { i =>
        Seq(sum(when(col("value") < ps(i), 1L).otherwise(0L)).as(s"lt$i"),
          sum(when(col("value") <= ps(i), 1L).otherwise(0L)).as(s"le$i"))
      }
      val ranks = ev.agg(rankExprs.head, rankExprs.tail: _*).head()
      val tol = n / acc + 1
      val rows = Seq(50L, 90L, 99L).zipWithIndex.map { case (p, i) =>
        val lt = ranks.getLong(2 * i)
        val le = ranks.getLong(2 * i + 1)
        val target = p * n / 100.0
        val ok = (le + tol) >= target && (lt + 1 - tol) <= target
        (p, n, if (ok) 1 else 0)
      }
      import s.implicits._
      rows.toDF("pct", "n", "ok").orderBy("pct")
    }),

    // Salted skew join: the explicit, planner-independent skew mitigation
    // (probe side salted, build side replicated nSalt ways, join on
    // (key, salt)) — result-identical to the plain inner join, which is
    // exactly what the oracle states. Use where AQE's runtime skew split
    // cannot see the join; the salt never escapes the operator.
    query("q_salted_join")(
      """WITH li AS (SELECT l_orderkey AS k,
           CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
         FROM lineitem)
         SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents_sum
         FROM li JOIN orders ON k = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""")((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey").as("k"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      operators.Skew.saltedJoin(li, ord, "k", nSalt = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents_sum"))
        .orderBy("o_orderpriority")
    }),

    // Cohort retention matrix: users cohorted by first-activity day, per
    // (cohort, day-offset) distinct active users and the retention rate —
    // the other product-analytics staple next to the funnel. Days are
    // integer epoch-microsecond divisions, so the matrix is bit-identical
    // across engines (day granularity: at week granularity every synthetic
    // user is active every week and the matrix is all-10000). Shuffles:
    // one user agg, one (user, day) distinct, one matrix agg; cohort sizes
    // broadcast back.
    query("q_retention")(
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d
                    FROM events),
         cohort AS (SELECT user_id, min(d) AS cohort_d FROM e GROUP BY user_id),
         active AS (SELECT DISTINCT user_id, d FROM e),
         m AS (SELECT cohort_d, d - cohort_d AS day_offset,
                 CAST(count(*) AS BIGINT) AS n_active
               FROM active JOIN cohort USING (user_id)
               GROUP BY cohort_d, d - cohort_d),
         sz AS (SELECT cohort_d, CAST(count(*) AS BIGINT) AS n_cohort
                FROM cohort GROUP BY cohort_d)
         SELECT cohort_d, day_offset, n_active, n_cohort,
           (n_active * 10000) // n_cohort AS retention_bp
         FROM m JOIN sz USING (cohort_d)
         ORDER BY cohort_d, day_offset""")((s, dir) => {
      val dayUs = 86400000000L
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          expr(s"unix_micros(ts) div $dayUs").as("d"))
      val cohort = ev.groupBy("user_id").agg(min("d").as("cohort_d"))
      val active = ev.distinct()
      val matrix = active.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_d"), (col("d") - col("cohort_d")).as("day_offset"))
        .agg(count(lit(1)).as("n_active"))
      val sizes = cohort.groupBy("cohort_d").agg(count(lit(1)).as("n_cohort"))
      matrix.join(broadcast(sizes), Seq("cohort_d"))
        .withColumn("retention_bp", expr("(n_active * 10000) div n_cohort"))
        .orderBy("cohort_d", "day_offset")
    }),

    // TPC-H-style revenue rollup: lineitem x orders x customer x nation,
    // revenue summed as exact integer cents (floor per item) so the
    // aggregate is reduction-order-independent across engines. The nation
    // dim broadcasts; the two big joins shuffle on their keys.
    query("q_revenue_by_nation")(
      """WITH li AS (SELECT l_orderkey,
           CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
             AS cents
         FROM lineitem)
         SELECT n_name, CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
         FROM li JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""")((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long").as("cents"))
      val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("int").as("n_nationkey"), col("n_name"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_items"), sum("cents").as("revenue_cents"))
        .orderBy("n_name")
    }),

    // Event funnel: users progressing view -> click -> purchase, each
    // stage's first hit strictly after the previous stage's AND within the
    // conversion window (the classic product-analytics sequential funnel;
    // the window is what makes it a funnel rather than "ever did both" —
    // without it every user here converts). Three stage aggregations + two
    // user-keyed equi-joins — every shuffle is on user_id, no window over
    // the full event stream.
    query("q_funnel")(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         v AS (SELECT user_id, min(us) AS v_us FROM e
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(us) AS c_us FROM e JOIN v USING (user_id)
               WHERE event_type = 'click' AND us > v_us
                 AND us <= v_us + 60000000000 GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(us) AS p_us FROM e JOIN c USING (user_id)
               WHERE event_type = 'purchase' AND us > c_us
                 AND us <= c_us + 60000000000 GROUP BY e.user_id)
         SELECT
           (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase,
           ((SELECT count(*) FROM c) * 10000)
             // (SELECT count(*) FROM v) AS click_bp,
           ((SELECT count(*) FROM p) * 10000)
             // (SELECT count(*) FROM c) AS purchase_bp""")((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      def first(stage: String) = ev.filter(col("event_type") === stage)
      val v = first("view").groupBy("user_id").agg(min("us").as("v_us"))
      val win = 60000000000L // conversion window: ~16.7 h in micros
      val c = first("click").join(v, Seq("user_id"))
        .filter(col("us") > col("v_us") && col("us") <= col("v_us") + win)
        .groupBy("user_id").agg(min("us").as("c_us"))
      val p = first("purchase").join(c, Seq("user_id"))
        .filter(col("us") > col("c_us") && col("us") <= col("c_us") + win)
        .groupBy("user_id").agg(min("us").as("p_us"))
      val nv = v.agg(count(lit(1)).as("n_view"))
      val nc = c.agg(count(lit(1)).as("n_click"))
      val np = p.agg(count(lit(1)).as("n_purchase"))
      nv.crossJoin(nc).crossJoin(np)
        .withColumn("click_bp", expr("(n_click * 10000) div n_view"))
        .withColumn("purchase_bp", expr("(n_purchase * 10000) div n_click"))
    }),

    // Gaps-and-islands sessionization over the event stream (8h idle gap):
    // per-user windows only — one hash exchange on user_id, no global sort.
    query("q_sessionize")(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         g AS (SELECT user_id, event_id, ts_us,
           CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
                  OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                     > 28800000000
                THEN 1 ELSE 0 END AS is_new
           FROM e),
         s AS (SELECT user_id, ts_us,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
           FROM g)
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts_us) AS start_us, max(ts_us) AS end_us,
           max(ts_us) - min(ts_us) AS duration_us
         FROM s GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx""")((s, dir) => {
      operators.Sessionize.sessionStats(Tables.events(s, dir),
          "user_id", "ts", "event_id", gapSeconds = 28800L)
        .orderBy("user_id", "session_idx")
    })
  )

  /** The fuzzy-resolution names: the md5 of each doc id. */
  private def fuzzyNames(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("name"))

  /** `c` (of length `len`) with the character at 0-based `pos` deleted —
    * the dirty-string generator of the fuzzy-resolution queries. */
  private def dropChar(c: String, pos: String, len: Int): Column =
    expr(s"concat(substring($c, 1, cast($pos as int)), " +
      s"substring($c, cast($pos as int) + 2, $len))")

  /** [[dropChar]]'s DuckDB mirror. */
  private def dropCharSql(c: String, pos: String): String =
    s"substr($c, 1, CAST($pos AS INT)) || substr($c, CAST($pos AS INT) + 2)"
}
