package graft

/** DuckDB oracle SQL — CDC lanes, apply/merge, txn, diff and metrics oracles
  * (plus the shared op-stream CTE templates every domain builds on).
  *
  * One link of the ordered `Oracles` trait chain (split from the
  * original single object purely for file-size hygiene). The chain
  * preserves the original top-down DEFINITION ORDER: vals initialize
  * in linearization order, so a member may only reference members of
  * the same or an earlier link — which is why a handful of members
  * sit next to the CTE helpers they depend on rather than with their
  * nominal domain.
  */
private[graft] trait OraclesCdcSql {
  /** hash31 (reference `src/changefeed/model.ts:92-98`) in pure DuckDB SQL:
    * fold over Unicode code points — DuckDB's ascii() returns the code
    * point, matching the engine's Hash31 code-point fold on ANY input
    * (astral chars included), not just ASCII. */
  def h31(x: String, mod: Long): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(split($x, ''), c -> ascii(c)::BIGINT)), (a, b) -> (a * 31 + b) % $mod)"

  /** Canonical CDC op stream — mirrors `CdcOps.ops`. */
  val opsCte: String = """ops AS (
    SELECT epoch_ms(ts) AS t,
           epoch_ms(ts) * 1000000 + event_id AS lsn,
           event_id,
           't' || CAST(user_id % 3 AS VARCHAR) AS tbl,
           CAST(user_id AS VARCHAR) AS pk,
           CASE WHEN event_type = 'signup' THEN 'insert'
                WHEN event_type = 'error' THEN 'delete'
                ELSE 'update' END AS op,
           event_type IN ('signup','click','purchase') AS sets_val,
           event_type IN ('signup','view','purchase') AS sets_k,
           CASE WHEN event_type IN ('signup','click','purchase') THEN value END AS val,
           CASE WHEN event_type IN ('signup','view','purchase')
                THEN CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) END AS k
    FROM events)"""

  /** Per-op row-state enrichment — mirrors `CdcOps.withState`. */
  val stateCte: String = s"""$opsCte,
  st0 AS (
    SELECT *,
      count(*) OVER (PARTITION BY tbl, pk ORDER BY lsn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver,
      count(CASE WHEN op = 'delete' THEN 1 END) OVER (
        PARTITION BY tbl, pk ORDER BY lsn
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS epoch_pre
    FROM ops),
  st AS (
    SELECT *,
      last_value(CASE WHEN sets_val THEN val END IGNORE NULLS) OVER w_pre AS prev_val,
      last_value(CASE WHEN sets_k THEN k END IGNORE NULLS) OVER w_pre AS prev_k,
      count(*) OVER (PARTITION BY tbl, pk, epoch_pre ORDER BY lsn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver_epoch,
      CASE WHEN op = 'delete' THEN NULL WHEN sets_val THEN val
           ELSE last_value(CASE WHEN sets_val THEN val END IGNORE NULLS) OVER w_pre
      END AS cur_val,
      CASE WHEN op = 'delete' THEN NULL WHEN sets_k THEN k
           ELSE last_value(CASE WHEN sets_k THEN k END IGNORE NULLS) OVER w_pre
      END AS cur_k
    FROM st0
    WINDOW w_pre AS (PARTITION BY tbl, pk, epoch_pre ORDER BY lsn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))"""

  val opCodeExpr: String =
    "CASE op WHEN 'insert' THEN 'c' WHEN 'delete' THEN 'd' ELSE 'u' END"

  /** Log-based capture lane — mirrors `Capture.log` (fetch interval 100). */
  val logLaneCte: String = s"""log_lane AS (
    SELECT lsn, tbl, pk,
      $opCodeExpr AS op_code,
      prev_val AS before_val, prev_k AS before_k,
      cur_val AS after_val, cur_k AS after_k,
      t AS commit_ts,
      t - (t % 100) + 100 AS emitted_ts,
      t - (t % 100) + 100 - t AS lag_ms,
      'tx-' || CAST(lsn AS VARCHAR) AS tx_id
    FROM st)"""

  /** Trigger-based capture lane — mirrors `Capture.trigger` (overhead 5,
    * extract 500). */
  val trigLaneCte: String = s"""trig_lane AS (
    SELECT lsn AS audit_seq, tbl, pk,
      $opCodeExpr AS op_code,
      prev_val AS before_val, prev_k AS before_k,
      cur_val AS after_val, cur_k AS after_k,
      t + 5 AS commit_ts,
      (t + 5) - ((t + 5) % 500) + 500 AS emitted_ts,
      (t + 5) - ((t + 5) % 500) + 500 - t AS lag_ms
    FROM st)"""

  /** Polling lane with soft deletes visible — mirrors `Capture.poll`
    * (interval 1000). */
  val pollCte: String = s"""poll AS (
    SELECT tbl, pk, t // 1000 AS poll_window,
      CASE WHEN op = 'delete' THEN 'd' WHEN ver > 1 THEN 'u' ELSE 'c' END AS op_code,
      cur_val AS after_val, cur_k AS after_k, ver AS version,
      (t // 1000 + 1) * 1000 AS poll_ts, t AS src_t, lsn AS src_lsn
    FROM (SELECT *, row_number() OVER (
            PARTITION BY tbl, pk, t // 1000 ORDER BY lsn DESC) AS rn FROM st)
    WHERE rn = 1)"""

  /** Final destination state after ordered merge-fold — mirrors
    * `ApplyEngine.applyState`. */
  val stateFinalCte: String = s"""state_final AS (
    SELECT tbl, pk, cur_val AS val, cur_k AS k, ver_epoch AS version, t AS updated_at
    FROM (SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY lsn DESC) AS rn FROM st)
    WHERE rn = 1 AND op <> 'delete')"""

  // ---------------------------------------------------------------- queries

  val cdcLogCapture: String = s"""WITH $stateCte, $logLaneCte
    SELECT * FROM log_lane ORDER BY lsn"""

  val cdcTriggerCapture: String = s"""WITH $stateCte, $trigLaneCte
    SELECT * FROM trig_lane ORDER BY audit_seq"""

  val cdcPollCapture: String = s"""WITH $stateCte, $pollCte
    SELECT tbl, pk, poll_window, op_code, after_val, after_k, version, poll_ts
    FROM poll ORDER BY tbl, pk, poll_window"""

  val cdcPollLoss: String = s"""WITH $stateCte,
    win AS (SELECT tbl, op, row_number() OVER (
              PARTITION BY tbl, pk, t // 1000 ORDER BY lsn DESC) AS rn FROM st)
    SELECT tbl,
      count(CASE WHEN rn = 1 AND op = 'delete' THEN 1 END) AS missed_deletes,
      count(CASE WHEN rn > 1 THEN 1 END) AS lost_intermediates
    FROM win GROUP BY tbl ORDER BY tbl"""

  val cdcApplyState: String = s"""WITH $stateCte, $stateFinalCte
    SELECT * FROM state_final ORDER BY tbl, pk"""

  /** SCD Type-2 dimension history — mirrors `ApplyEngine.scd2`: one row
    * per non-delete op with the merged image (`cur_*`), validity interval
    * `[valid_from, valid_to)` from `lead(t)` over the key timeline (so a
    * delete closes the previous version), `is_current` where no later op
    * exists. */
  val cdcScd2: String = s"""WITH $stateCte,
    v AS (
      SELECT tbl, pk, CAST(ver AS BIGINT) AS ver, op, t AS valid_from,
        lead(t) OVER (PARTITION BY tbl, pk ORDER BY lsn) AS valid_to,
        cur_val AS val, cur_k AS k
      FROM st)
    SELECT tbl, pk, ver, valid_from, valid_to, val, k,
      valid_to IS NULL AS is_current
    FROM v WHERE op <> 'delete' ORDER BY tbl, pk, ver"""

  /** JSON partial-payload feed + its generic reduce — mirrors
    * `CdcOps.jsonOps` → `ApplyEngine.applyJsonState`. All JSON values are
    * strings with integer content, so the merged row image reassembles by
    * plain concatenation (keys name-sorted: id < k < ts < v), exactly the
    * `to_json(map_from_entries(array_sort(...)))` output byte-for-byte. */
  val jsonFeedCte: String = s"""$opsCte,
  feed AS (
    SELECT tbl, pk, op, t, lsn, event_id,
      CASE WHEN sets_k THEN CAST(k AS VARCHAR) END AS f_k,
      CAST(t AS VARCHAR) AS f_ts,
      CASE WHEN sets_val THEN CAST(CAST(floor(val * 1000) AS BIGINT) AS VARCHAR) END AS f_v
    FROM ops),
  json_live AS (
    SELECT * FROM (
      SELECT f.*, max(CASE WHEN op = 'delete' THEN lsn END)
        OVER (PARTITION BY tbl, pk) AS last_del
      FROM feed f)
    WHERE op <> 'delete' AND (last_del IS NULL OR lsn > last_del)),
  json_state AS (
    SELECT tbl, pk,
      '{' || concat_ws(',',
        '"id":"' || pk || '"',
        CASE WHEN vk IS NOT NULL THEN '"k":"' || vk || '"' END,
        '"ts":"' || vts || '"',
        CASE WHEN vv IS NOT NULL THEN '"v":"' || vv || '"' END) || '}' AS row_json
    FROM (
      SELECT tbl, pk,
        last_value(f_k IGNORE NULLS) OVER w AS vk,
        last_value(f_ts IGNORE NULLS) OVER w AS vts,
        last_value(f_v IGNORE NULLS) OVER w AS vv,
        row_number() OVER (PARTITION BY tbl, pk ORDER BY lsn DESC) AS rn
      FROM json_live
      WINDOW w AS (PARTITION BY tbl, pk ORDER BY lsn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
    WHERE rn = 1)"""

  val cdcApplyJson: String = s"""WITH $jsonFeedCte
    SELECT tbl, pk, row_json FROM json_state ORDER BY tbl, pk"""

  /** Snapshot-at-cut ∪ tail-after-cut with continuous offsets — mirrors
    * `cdc_snapshot_tail`. The st CTE's windows are cumulative, so filtering
    * it to t ≤ cut and taking the last row per key IS the state at the
    * cut. */
  val cdcSnapshotTail: String = s"""WITH $stateCte, $logLaneCte,
    cut AS (SELECT (min(t) + max(t)) // 2 AS cut FROM ops),
    seed AS (
      SELECT tbl, pk, cur_val AS val, cur_k AS k
      FROM (SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY lsn DESC) AS rn
            FROM st WHERE t <= (SELECT cut FROM cut))
      WHERE rn = 1 AND op <> 'delete'),
    snap AS (
      SELECT row_number() OVER (ORDER BY tbl, pk) AS "offset", 'snapshot' AS phase,
             tbl, pk, 'r' AS op_code, val, k
      FROM seed),
    tail AS (
      SELECT (SELECT count(*) FROM seed) + row_number() OVER (ORDER BY lsn) AS "offset",
             'tail' AS phase, tbl, pk, op_code, after_val AS val, after_k AS k
      FROM log_lane WHERE commit_ts > (SELECT cut FROM cut))
    SELECT * FROM snap UNION ALL SELECT * FROM tail ORDER BY "offset""""

  /** Incremental-snapshot chunk ledger — mirrors
    * `Capture.incrementalSnapshot` (chunkSize 64): keys live at the cut,
    * ranked by (tbl, pk) into 64-key chunks, high watermark cut+(c+1)·step,
    * a key superseded when any op for it lands in (cut, hw]. */
  val cdcIncrementalSnapshot: String = s"""WITH $stateCte,
    cutv AS (SELECT (min(t) + max(t)) // 2 AS cut, max(t) AS max_t FROM ops),
    live AS (
      SELECT tbl, pk, cur_val AS val, cur_k AS k
      FROM (SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY lsn DESC) AS rn
            FROM st WHERE t <= (SELECT cut FROM cutv))
      WHERE rn = 1 AND op <> 'delete'),
    rk AS (SELECT *, row_number() OVER (ORDER BY tbl, pk) AS rk FROM live),
    ch AS (SELECT *, (rk - 1) // 64 AS chunk FROM rk),
    stepv AS (
      SELECT cut,
        greatest(1, (max_t - cut) // ((SELECT (count(*) + 63) // 64 FROM live) + 1))
          AS step
      FROM cutv),
    wv AS (SELECT c.*, s.cut + (c.chunk + 1) * s.step AS hw FROM ch c, stepv s),
    fl AS (
      SELECT w.chunk, w.tbl, w.pk, w.val, w.k, w.hw,
        max(CASE WHEN o.t > (SELECT cut FROM cutv) AND o.t <= w.hw
                 THEN 1 ELSE 0 END) AS sup
      FROM wv w LEFT JOIN ops o ON o.tbl = w.tbl AND o.pk = w.pk
      GROUP BY w.chunk, w.tbl, w.pk, w.val, w.k, w.hw)
    SELECT chunk, count(*) AS n_keys,
      count(CASE WHEN sup = 0 THEN 1 END) AS n_emitted,
      count(CASE WHEN sup = 1 THEN 1 END) AS n_superseded,
      max(hw) AS hw,
      CAST(sum(CASE WHEN sup = 0 THEN k END) AS BIGINT) AS sum_k,
      CAST(sum(CASE WHEN sup = 0 THEN CAST(floor(val * 1000) AS BIGINT) END)
        AS BIGINT) AS sum_val_q
    FROM fl GROUP BY chunk ORDER BY chunk"""

  /** Backfill-drill audit — mirrors `Capture.backfillAudit` (mod 17):
    * per-table count of backfill events arriving behind the newest live
    * event in business time, and the watermark skew they would cause. */
  val cdcBackfillAudit: String = s"""WITH $opsCte,
    m AS (SELECT *, CAST(pk AS BIGINT) % 17 = 0 AS is_backfill FROM ops),
    la AS (
      SELECT tbl, max(t) AS max_live_t, count(*) AS n_live
      FROM m WHERE NOT is_backfill GROUP BY tbl)
    SELECT m.tbl, la.n_live, count(*) AS n_backfill,
      count(CASE WHEN m.t < la.max_live_t THEN 1 END) AS n_late,
      greatest(0, max(la.max_live_t - m.t)) AS max_skew_ms
    FROM m LEFT JOIN la ON la.tbl = m.tbl
    WHERE m.is_backfill
    GROUP BY m.tbl, la.n_live ORDER BY m.tbl"""

  /** Log-compaction audit — mirrors `Capture.compactionAudit`: per key
    * the latest op by lsn (arg_max), per table the retained/tombstone
    * split and compaction ratio. */
  val cdcCompaction: String = s"""WITH $opsCte,
    k AS (SELECT tbl, pk, count(*) AS n, arg_max(op, lsn) AS last_op
          FROM ops GROUP BY tbl, pk)
    SELECT tbl,
      CAST(sum(n) AS BIGINT) AS n_events,
      count(*) AS n_keys,
      count(CASE WHEN last_op <> 'delete' THEN 1 END) AS n_live,
      count(CASE WHEN last_op = 'delete' THEN 1 END) AS n_tombstones,
      CAST(count(*) AS DOUBLE) / sum(n) AS compaction_ratio,
      CAST(sum(n) AS DOUBLE) / count(*) AS avg_versions
    FROM k GROUP BY tbl ORDER BY tbl"""

  /** Op-sequence legality audit — mirrors `Capture.chainIntegrity`:
    * per-key lag in lsn order, three violation classes, one exact
    * division. */
  val cdcChainIntegrity: String = s"""WITH $opsCte,
    l AS (SELECT tbl, op,
            lag(op) OVER (PARTITION BY tbl, pk ORDER BY lsn) AS prev
          FROM ops)
    SELECT tbl, count(*) AS n_ops,
      count(CASE WHEN op = 'insert' AND prev IN ('insert', 'update')
                 THEN 1 END) AS n_double_insert,
      count(CASE WHEN op = 'update' AND (prev IS NULL OR prev = 'delete')
                 THEN 1 END) AS n_update_without_row,
      count(CASE WHEN op = 'delete' AND (prev IS NULL OR prev = 'delete')
                 THEN 1 END) AS n_delete_without_row,
      CAST(count(CASE WHEN (op = 'insert' AND prev IN ('insert', 'update'))
                        OR (op IN ('update', 'delete')
                            AND (prev IS NULL OR prev = 'delete'))
                 THEN 1 END) AS DOUBLE) / count(*) AS violation_frac
    FROM l GROUP BY tbl ORDER BY tbl"""

  /** Heartbeat/stall ledger — mirrors `Capture.heartbeatGaps`
    * (stallMs = 60000): per-table consecutive gaps in lsn order. */
  val cdcHeartbeatGap: String = s"""WITH $opsCte,
    g AS (SELECT tbl, t - lag(t) OVER (PARTITION BY tbl ORDER BY lsn) AS gap
          FROM ops)
    SELECT tbl, count(*) AS n_gaps,
      count(CASE WHEN gap > 60000 THEN 1 END) AS n_stalls,
      CAST(max(gap) AS BIGINT) AS max_gap_ms,
      CAST(CAST(sum(gap) AS BIGINT) AS DOUBLE) / count(*) AS mean_gap_ms
    FROM g WHERE gap IS NOT NULL GROUP BY tbl ORDER BY tbl"""

  /** Tombstone-GC planning — mirrors `Capture.tombstoneGc`
    * (retentionMs = 86400000): GC-eligible tombstones vs the broadcast
    * high water, reborn keys counted. */
  val cdcTombstoneGc: String = s"""WITH $opsCte,
    k AS (SELECT tbl, pk,
            arg_max(op, lsn) AS last_op, max(t) AS last_t,
            max(CASE WHEN op = 'delete' THEN lsn END) AS last_del_lsn,
            max(CASE WHEN op = 'insert' THEN lsn END) AS last_ins_lsn
          FROM ops GROUP BY tbl, pk),
    hw AS (SELECT max(t) AS hw FROM ops)
    SELECT tbl, count(*) AS n_keys,
      count(CASE WHEN last_op = 'delete' THEN 1 END) AS n_tombstones,
      count(CASE WHEN last_op = 'delete' AND last_t < hw.hw - 86400000
                 THEN 1 END) AS n_gc_eligible,
      count(CASE WHEN last_del_lsn IS NOT NULL AND last_ins_lsn > last_del_lsn
                 THEN 1 END) AS n_reborn,
      CAST(count(CASE WHEN last_op = 'delete' AND last_t < hw.hw - 86400000
                 THEN 1 END) AS DOUBLE) / count(*) AS reclaimable_frac
    FROM k, hw GROUP BY tbl ORDER BY tbl"""

  /** Closed form of the envelope round-trip: encode → decode → assemble →
    * apply is lossless, so keys match the direct JSON reduce, every op
    * lands in a txn, and txns count the distinct event-id groups. */
  val cdcDebeziumE2e: String = s"""WITH $jsonFeedCte
    SELECT metric, value FROM (
      SELECT 'keys_match' AS metric,
        (SELECT count(*) FROM (SELECT DISTINCT tbl, pk FROM json_live)) AS value
      UNION ALL SELECT 'keys_mismatch', 0
      UNION ALL SELECT 'tx_events', (SELECT count(*) FROM ops)
      UNION ALL SELECT 'txns', (SELECT count(DISTINCT event_id // 3) FROM ops))
    ORDER BY metric"""

  val cdcReplayEvents: String = s"""WITH $stateCte, $logLaneCte
    SELECT tbl, pk, after_val AS val, after_k AS k
    FROM (SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY lsn DESC) AS rn
          FROM log_lane)
    WHERE rn = 1 AND op_code <> 'd'
    ORDER BY tbl, pk"""

  val cdcDiffLane: String = s"""WITH $stateCte, $pollCte,
    expected AS (
      SELECT tbl || '::' || $opCodeExpr || '::' || pk AS key, t AS etime,
             row_number() OVER (PARTITION BY tbl || '::' || $opCodeExpr || '::' || pk
                                ORDER BY lsn) AS ordinal
      FROM st),
    actual AS (
      SELECT tbl || '::' || op_code || '::' || pk AS key, poll_ts AS atime,
             row_number() OVER (PARTITION BY tbl || '::' || op_code || '::' || pk
                                ORDER BY src_lsn) AS ordinal
      FROM poll),
    pairs AS (
      SELECT coalesce(e.key, a.key) AS key,
             CASE WHEN e.key IS NOT NULL AND a.key IS NOT NULL THEN 'matched'
                  WHEN e.key IS NOT NULL THEN 'missing' ELSE 'extra' END AS status,
             CASE WHEN e.key IS NOT NULL AND a.key IS NOT NULL
                  THEN greatest(0, a.atime - e.etime) END AS lag_ms
      FROM expected e FULL OUTER JOIN actual a USING (key, ordinal))
    SELECT status, count(*) AS cnt,
           CAST(coalesce(sum(lag_ms), 0) AS BIGINT) AS total_lag_ms
    FROM pairs GROUP BY status ORDER BY status"""

  val cdcLagTopK: String = s"""WITH $stateCte, $trigLaneCte
    SELECT audit_seq, tbl, pk, lag_ms FROM trig_lane
    ORDER BY lag_ms DESC, audit_seq LIMIT 5"""

  val cdcDiffStates: String = s"""WITH $stateCte, $stateFinalCte, $pollCte,
    poll_state AS (
      SELECT tbl, pk, after_val AS val, after_k AS k
      FROM (SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY poll_window DESC) AS rn
            FROM poll WHERE op_code <> 'd')
      WHERE rn = 1),
    diff AS (
      SELECT coalesce(l.tbl, r.tbl) AS tbl,
        CASE WHEN l.tbl IS NULL THEN 'unexpected_row'
             WHEN r.tbl IS NULL THEN 'missing_row'
             WHEN (l.val IS DISTINCT FROM r.val) OR (l.k IS DISTINCT FROM r.k)
               THEN 'field_mismatch'
             ELSE 'match' END AS status
      FROM state_final l FULL OUTER JOIN poll_state r
        ON l.tbl = r.tbl AND l.pk = r.pk)
    SELECT status, count(*) AS cnt FROM diff GROUP BY status ORDER BY status"""

  /** Repair-op emission — mirrors `Diff.reconcileOps` over the same
    * truth/poll-state pair as `cdc_diffstates`: per divergent key the op
    * that converges the sink onto the source (insert/update/delete,
    * source image carried); matching keys emit nothing. */
  val cdcReconcileRepair: String = s"""WITH $stateCte, $stateFinalCte, $pollCte,
    poll_state AS (
      SELECT tbl, pk, after_val AS val, after_k AS k
      FROM (SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY poll_window DESC) AS rn
            FROM poll WHERE op_code <> 'd')
      WHERE rn = 1),
    j AS (
      SELECT coalesce(l.tbl, r.tbl) AS tbl, coalesce(l.pk, r.pk) AS pk,
        CASE WHEN l.tbl IS NULL THEN 'delete'
             WHEN r.tbl IS NULL THEN 'insert'
             WHEN (l.val IS DISTINCT FROM r.val) OR (l.k IS DISTINCT FROM r.k)
               THEN 'update'
             ELSE 'noop' END AS repair_op,
        l.val, l.k
      FROM state_final l FULL OUTER JOIN poll_state r
        ON l.tbl = r.tbl AND l.pk = r.pk)
    SELECT tbl, pk, repair_op, val, k FROM j
    WHERE repair_op <> 'noop' ORDER BY tbl, pk"""

  val cdcMetricsLane: String = s"""WITH $stateCte, $logLaneCte, $trigLaneCte, $pollCte
    SELECT 'log' AS method, count(*) AS produced,
      count(CASE WHEN op_code = 'c' THEN 1 END) AS inserts,
      count(CASE WHEN op_code = 'u' THEN 1 END) AS updates,
      count(CASE WHEN op_code = 'd' THEN 1 END) AS deletes,
      1.0::DOUBLE AS write_amp
    FROM log_lane
    UNION ALL
    SELECT 'poll', count(*),
      count(CASE WHEN op_code = 'c' THEN 1 END),
      count(CASE WHEN op_code = 'u' THEN 1 END),
      count(CASE WHEN op_code = 'd' THEN 1 END),
      1.0::DOUBLE
    FROM poll
    UNION ALL
    SELECT 'trigger', count(*),
      count(CASE WHEN op_code = 'c' THEN 1 END),
      count(CASE WHEN op_code = 'u' THEN 1 END),
      count(CASE WHEN op_code = 'd' THEN 1 END),
      2.0::DOUBLE
    FROM trig_lane
    ORDER BY method"""

  /** Per-lane SLA attainment — mirrors `MetricsAgg.lagSla` over the
    * three capture lanes (thresholds 10/100/1000/10000 ms, uncapped
    * lag). */
  val cdcLagSla: String = s"""WITH $stateCte, $logLaneCte, $trigLaneCte, $pollCte,
    th(sla_ms) AS (VALUES (10), (100), (1000), (10000)),
    lanes AS (
      SELECT 'log' AS method, lag_ms FROM log_lane
      UNION ALL SELECT 'poll', poll_ts - src_t FROM poll
      UNION ALL SELECT 'trigger', lag_ms FROM trig_lane)
    SELECT l.method, CAST(th.sla_ms AS BIGINT) AS sla_ms,
      count(CASE WHEN l.lag_ms <= th.sla_ms THEN 1 END) AS n_within,
      count(*) AS n_events,
      CAST(count(CASE WHEN l.lag_ms <= th.sla_ms THEN 1 END) AS DOUBLE)
        / count(*) AS within_frac
    FROM th, lanes l
    GROUP BY l.method, th.sla_ms ORDER BY l.method, sla_ms"""

  /** Lag values saturate at 2^20−1 ms, mirroring `MetricsAgg.lagPercentiles`'
    * bounded-state grid (identical results for any sane lag domain). */
  val cdcLagPercentiles: String = s"""WITH $stateCte, $logLaneCte, $trigLaneCte, $pollCte
    SELECT 'log' AS method,
           round(quantile_cont(least(lag_ms, 1048575), 0.5), 3) AS p50,
           round(quantile_cont(least(lag_ms, 1048575), 0.95), 3) AS p95,
           max(least(lag_ms, 1048575)) AS max_lag
    FROM log_lane
    UNION ALL
    SELECT 'poll', round(quantile_cont(least(poll_ts - src_t, 1048575), 0.5), 3),
           round(quantile_cont(least(poll_ts - src_t, 1048575), 0.95), 3),
           max(least(poll_ts - src_t, 1048575))
    FROM poll
    UNION ALL
    SELECT 'trigger', round(quantile_cont(least(lag_ms, 1048575), 0.5), 3),
           round(quantile_cont(least(lag_ms, 1048575), 0.95), 3),
           max(least(lag_ms, 1048575))
    FROM trig_lane
    ORDER BY method"""

  /** Data-contract assertion — mirrors `CdcOps.contractViolations`: set-ops
    * with null payloads, per-key lsn/t order inversions and per-key
    * duplicate lsns, all 0 on conforming input. */
  val cdcContracts: String = s"""WITH $opsCte,
    seq AS (
      SELECT *,
        lag(t) OVER (PARTITION BY tbl, pk ORDER BY event_id, t) AS prev_t,
        lag(lsn) OVER (PARTITION BY tbl, pk ORDER BY event_id, t) AS prev_lsn
      FROM ops)
    SELECT
      count(CASE WHEN (sets_val AND val IS NULL) OR (sets_k AND k IS NULL) THEN 1 END)
        AS null_set_payloads,
      count(CASE WHEN prev_t > t THEN 1 END) AS lsn_t_inversions,
      count(CASE WHEN prev_lsn = lsn THEN 1 END) AS dup_lsns
    FROM seq"""

  /** Cross-lane summary (`web/App.tsx:985-1020`) — mirrors the Spark
    * min_by/max_by aggregate over the 3-lane percentile+write-amp table. */
  val cdcLaneSummary: String = s"""WITH $stateCte, $logLaneCte, $trigLaneCte, $pollCte,
    lanes AS (
      SELECT 'log' AS method, round(quantile_cont(lag_ms, 0.95), 3) AS p95, 1.0::DOUBLE AS wa
      FROM log_lane
      UNION ALL
      SELECT 'poll', round(quantile_cont(poll_ts - src_t, 0.95), 3), 1.0::DOUBLE FROM poll
      UNION ALL
      SELECT 'trigger', round(quantile_cont(lag_ms, 0.95), 3), 2.0::DOUBLE FROM trig_lane)
    SELECT arg_min(method, p95) AS best_lag_lane,
           arg_max(method, p95) AS worst_lag_lane,
           max(p95) - min(p95) AS lag_spread,
           arg_max(method, wa) AS top_write_amp_lane
    FROM lanes"""

  /** Rolling-2000 lag percentiles — the ring-buffer window of
    * `src/engine/metrics.ts:42-44`: per lane, only the last 2000 samples in
    * delivery order feed p50/p95. */
  val cdcLagRolling: String = s"""WITH $stateCte, $logLaneCte, $trigLaneCte, $pollCte,
    lanes AS (
      SELECT 'log' AS method, emitted_ts AS ord1, lsn AS ord2, lag_ms FROM log_lane
      UNION ALL
      SELECT 'poll', poll_ts, src_lsn, poll_ts - src_t FROM poll
      UNION ALL
      SELECT 'trigger', emitted_ts, audit_seq, lag_ms FROM trig_lane),
    tail AS (
      SELECT method, lag_ms FROM (
        SELECT method, lag_ms, row_number() OVER (
          PARTITION BY method ORDER BY ord1 DESC, ord2 DESC) AS rn
        FROM lanes)
      WHERE rn <= 2000)
    SELECT method,
      round(quantile_cont(lag_ms, 0.5), 3) AS p50,
      round(quantile_cont(lag_ms, 0.95), 3) AS p95,
      max(lag_ms) AS max_lag,
      CAST(count(*) AS BIGINT) AS window_n
    FROM tail GROUP BY method ORDER BY method"""

  /** Deterministic-sample per-column compare — mirrors `Diff.verifySample`
    * over truth (merge-fold state) vs the log-lane replay: first 10 common
    * keys in md5(tbl|pk) order, canonical values compared per column.
    * The canonical form is the JS `String(Number(x))` rendering, which for
    * these money-valued doubles differs from DuckDB's VARCHAR cast only in
    * the integral `.0` suffix. */
  val cdcVerifySample: String = s"""WITH $stateCte, $stateFinalCte, $logLaneCte,
    log_state AS (
      SELECT tbl, pk, after_val AS val, after_k AS k
      FROM (SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY lsn DESC) AS rn
            FROM log_lane) WHERE rn = 1 AND op_code <> 'd'),
    canon AS (
      SELECT f.tbl, f.pk,
        regexp_replace(CAST(f.val AS VARCHAR), '\\.0$$', '') AS src_val,
        CAST(f.k AS VARCHAR) AS src_k,
        regexp_replace(CAST(l.val AS VARCHAR), '\\.0$$', '') AS snk_val,
        CAST(l.k AS VARCHAR) AS snk_k,
        md5(f.tbl || '|' || f.pk) AS _ord
      FROM state_final f JOIN log_state l ON f.tbl = l.tbl AND f.pk = l.pk),
    sampled AS (SELECT * FROM canon ORDER BY _ord LIMIT 10)
    SELECT tbl, pk, col_name, src_val, snk_val,
           src_val IS NOT DISTINCT FROM snk_val AS matches
    FROM (
      SELECT tbl, pk, 'val' AS col_name, src_val, snk_val FROM sampled
      UNION ALL
      SELECT tbl, pk, 'k', src_k, snk_k FROM sampled)
    ORDER BY tbl, pk, col_name"""

  val cdcTxnApply: String = s"""WITH $opsCte,
    txn AS (
      SELECT event_id // 3 AS tx_num, count(*) AS n_events,
             count(DISTINCT tbl) AS n_tables,
             max(t) + 100 AS commit_ts, min(lsn) AS first_lsn
      FROM ops GROUP BY 1)
    SELECT 'tx-' || CAST(tx_num AS VARCHAR) AS tx_id, tx_num, n_events, n_tables,
           commit_ts, first_lsn,
           row_number() OVER (ORDER BY commit_ts, first_lsn) AS apply_order
    FROM txn ORDER BY apply_order"""

  val cdcBrokerRoute: String = s"""WITH $opsCte,
    routed AS (
      SELECT ${h31("pk", 9973)} % 3 AS part,
             ${h31("CAST(lsn AS VARCHAR)", 9973)} % 100 < 10 AS dropped
      FROM ops)
    SELECT part,
      count(CASE WHEN NOT dropped THEN 1 END) AS delivered,
      count(CASE WHEN dropped THEN 1 END) AS dropped_cnt
    FROM routed GROUP BY part ORDER BY part"""

  val cdcOrderingDrift: String = s"""WITH $opsCte,
    drift AS (
      SELECT tbl, lsn,
             t + (${h31("'tx-' || CAST(lsn AS VARCHAR)", 9973)} % 2) * 50 AS available_at
      FROM ops),
    scan AS (
      SELECT tbl, lsn,
             max(lsn) OVER (PARTITION BY tbl ORDER BY available_at, lsn
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
      FROM drift)
    SELECT tbl, count(CASE WHEN lsn < run_max THEN 1 END) AS inversions
    FROM scan GROUP BY tbl ORDER BY tbl"""

  val cdcSnapshot: String = """
    SELECT 'r' AS op, 'customer' AS tbl, CAST(c_custkey AS VARCHAR) AS pk,
           md5(c_name || '|' || c_mktsegment) AS payload_hash,
           'snapshot-0' AS tx_id
    FROM customer ORDER BY CAST(pk AS BIGINT)"""

  // -------------------------------------------------------- analytics (TPC-H-ish)


  // Shared by the corpus/ANN/media links (chain-early so every
  // later link can reference them):

  /** Deterministic left-to-right double fold of a 64-dim dot product. */
  protected def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       list_transform(range(1, 65), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)),
       (acc, x) -> acc + x)"""

  protected def normSql(a: String): String =
    s"""sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       list_transform(range(1, 65), i -> $a[i]::DOUBLE * $a[i]::DOUBLE)),
       (acc, x) -> acc + x))"""
}
