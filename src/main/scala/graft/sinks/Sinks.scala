package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, FloatType, IntegerType, LongType, StringType}

/** Export sinks.
  *
  * - NDJSON event-log export (`src/ui/eventLogExport.ts:112-182`): one JSON
  *   object per line with coerced field types — numbers finite-checked,
  *   booleans, trimmed strings (`:65-97`).
  * - Destination table JSON download (`web/App.tsx:2513-2520`).
  * - Idempotent upsert writer (`consumer.mjs:292-356`): the canonical sink's
  *   `ON CONFLICT DO UPDATE` expressed as a deterministic merge — latest
  *   event per key wins, with CDC metadata columns carried alongside.
  */
object Sinks {

  /** Reference value coercions (`eventLogExport.ts:65-97`): non-numeric /
    * non-finite inputs coerce to null (ANSI cast would throw instead). */
  def coerceNumber(c: Column): Column = {
    val s = trim(c.cast("string"))
    when(s.rlike("^-?[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?$"), s.cast("double"))
  }
  def coerceBoolean(c: Column): Column = c.cast("boolean")
  def coerceString(c: Column): Column = trim(c.cast("string"))

  /** Serialize events to NDJSON lines: a deterministic column order inside
    * the struct gives stable output (`serializeEventLogNdjson`). Returns a
    * single-column DataFrame of lines; write with `.text(path)`. */
  def ndjsonLines(events: DataFrame, cols: Seq[String]): DataFrame =
    events.select(to_json(struct(cols.map(col): _*)).as("line"))

  /** Destination table download: JSON file per table. */
  def writeJson(table: DataFrame, path: String): Unit =
    table.write.mode("overwrite").json(path)

  /** REAL JDBC idempotent upsert — the executor-side body of the canonical
    * consumer's sink write (`consumer.mjs:292-356`: `INSERT ... ON
    * CONFLICT DO UPDATE` guarded by the event sequence), against any
    * `DriverManager`-resolvable URL. Exercised END-TO-END in tests against
    * embedded Derby (the sandbox's real JDBC database, shipped with
    * Spark); in production the URL is Postgres and the same two-statement
    * pattern applies.
    *
    * Per row: (1) `UPDATE ... WHERE pk = ? AND seq < ?` — a newer event
    * wins, an older replayed one is a no-op; (2) if no row matched, try
    * `INSERT` inside a per-row SAVEPOINT, rolling back to it on a
    * duplicate-key violation (the row exists with a newer-or-equal seq —
    * a stale replay). The savepoint matters on PostgreSQL: any statement
    * error there aborts the WHOLE transaction (SQLState 25P02 on every
    * subsequent statement), so merely swallowing the exception — fine on
    * statement-level-rollback engines like Derby — would lose the rest of
    * the partition's batch. Rolling back to the savepoint restores the
    * transaction on both families. The seq guard makes delivery idempotent
    * AND order-insensitive: replaying any batch, in any order, converges
    * to the max-seq image per key.
    *
    * Scale shape: the batch is repartitioned on the key so each pk lives
    * in exactly ONE partition — no two executors contend on a row, and
    * each partition holds one connection with batched statements inside
    * one transaction. `df.write.jdbc` cannot express the merge (it only
    * appends/overwrites); this is the standard foreachPartition upsert a
    * real CDC consumer runs. */
  def jdbcIdempotentUpsert(
      batch: DataFrame, // pkCol, payload cols, seqCol
      url: String,
      table: String,
      pkCol: String,
      seqCol: String,
      payloadCols: Seq[String]): Unit = {
    val cols = (pkCol +: payloadCols) :+ seqCol
    val insertSql = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val updateSql = s"UPDATE $table SET " +
      (payloadCols :+ seqCol).map(c => s"$c = ?").mkString(", ") +
      s" WHERE $pkCol = ? AND $seqCol < ?"
    val proj = batch.repartition(col(pkCol)).select(cols.map(col): _*)
    val sqlTypes = proj.schema.fields.map(_.dataType match {
      case LongType => java.sql.Types.BIGINT
      case IntegerType => java.sql.Types.INTEGER
      case DoubleType => java.sql.Types.DOUBLE
      case FloatType => java.sql.Types.FLOAT
      case BooleanType => java.sql.Types.BOOLEAN
      case StringType => java.sql.Types.VARCHAR
      case dt => throw new IllegalArgumentException(s"unsupported sink type $dt")
    })
    val nPayload = payloadCols.length
    proj.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val ins = conn.prepareStatement(insertSql)
          val upd = conn.prepareStatement(updateSql)
          def set(st: java.sql.PreparedStatement, pos: Int, rowIdx: Int, r: Row): Unit =
            if (r.isNullAt(rowIdx)) st.setNull(pos, sqlTypes(rowIdx))
            else st.setObject(pos, r.get(rowIdx), sqlTypes(rowIdx))
          try {
            rows.foreach { r =>
              // UPDATE guard first: columns are (payload..., seq, pk, seq)
              (0 until nPayload).foreach(i => set(upd, i + 1, i + 1, r))
              set(upd, nPayload + 1, nPayload + 1, r) // seq value
              set(upd, nPayload + 2, 0, r) // pk in WHERE
              set(upd, nPayload + 3, nPayload + 1, r) // seq in guard
              if (upd.executeUpdate() == 0) {
                cols.indices.foreach(i => set(ins, i + 1, i, r))
                // per-row savepoint: on Postgres a failed statement aborts
                // the whole txn (25P02), so the 23505 swallow must restore
                // to here or every later row + the commit would fail
                val sp = conn.setSavepoint()
                try {
                  ins.executeUpdate()
                  conn.releaseSavepoint(sp)
                } catch {
                  case e: java.sql.SQLException if e.getSQLState == "23505" =>
                    // duplicate key: the row already holds a >= seq — stale replay
                    conn.rollback(sp)
                }
              }
            }
            conn.commit()
          } catch { case t: Throwable => conn.rollback(); throw t }
        } finally conn.close()
      }
    }
  }

  /** Idempotent upsert into a keyed destination: applying the same batch
    * twice yields the same state (replay-safe, the canonical sink's dedup +
    * upsert contract). Latest event per key by `seqCol` wins; deletes remove.
    * For a real external store this is the `foreachBatch { MERGE }` body —
    * here it returns the post-merge state for a table-valued destination.
    *
    * One keyed pass: `current` rows (`_src` 0) and `batch` rows (`_src` 1)
    * are unioned and windowed over (tbl, pk), ordered `_src desc, seq
    * desc`, so a touched key's first row is the batch's latest. A key's
    * `current` rows stay when no batch row shares the key; the batch's
    * latest row stays unless its `op_code` is "d". One (tbl, pk) exchange
    * and one sort, and no join: an anti-join against the batch's keys is
    * small enough for AQE to broadcast, and a two-column broadcast key
    * costs a full page of live heap however few rows it has (the NO
    * BROADCAST paragraph of [[graft.operators.BandJoin]]).
    *
    * The rules of an equi-join on (tbl, pk) hold exactly:
    *   - a `current` row with a null `tbl` or `pk` matches no batch row,
    *     so it always stays;
    *   - batch rows with a null in the key still dedup among themselves,
    *     and the latest upserts as its own key;
    *   - a latest batch row with a null `op_code` neither upserts nor
    *     deletes, but still removes the key's `current` rows;
    *   - duplicate `current` rows of an untouched key all stay.
    * Which of two batch rows of one key with equal `seqCol` wins is
    * unspecified. */
  def idempotentUpsert(
      current: DataFrame, // tbl, pk, payload cols
      batch: DataFrame, // tbl, pk, op_code, payload cols, seqCol
      seqCol: String,
      payloadCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val row = Seq(col("tbl"), col("pk")) ++ payloadCols.map(col)
    val w = Window.partitionBy("tbl", "pk").orderBy(col("_src").desc, col(seqCol).desc)
    val keyed = current.select(row :+ lit(0).as("_src"): _*)
      .unionByName(batch.select(row ++ Seq(col("op_code"), col(seqCol), lit(1).as("_src")): _*),
        allowMissingColumns = true)
      .withColumn("_rn", row_number().over(w))
      // a running max under `_src desc`: the key's first row, so 1 on every
      // row of a key the batch touches
      .withColumn("_touched", max(col("_src")).over(w) === 1)
    val nullKey = col("tbl").isNull || col("pk").isNull
    keyed
      .filter(col("_src") === 0 && (nullKey || !col("_touched")) ||
        col("_src") === 1 && col("_rn") === 1 && col("op_code") =!= "d")
      .select(current.columns.map(col): _*)
  }
}
