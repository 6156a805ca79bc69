package graft.pipeline

import graft.ingest.LoomSchema
import org.apache.spark.sql.{DataFrame, Row}

/** S9 — the JDBC upsert sink (reference src/main_01.py:208-305).
  *
  * The reference's dominant performance bug is 2–3 synchronous SQL
  * round-trips PER ROW (existence probe + INSERT-proc/UPDATE,
  * src/main_01.py:242-248, :294-296 — SURVEY §4.1 "batching writes").
  * The engine replaces that with:
  *
  *   1. engine-side merge first (Q11 last-writer-wins) so the sink never
  *      sees intra-batch duplicates;
  *   2. `foreachPartition` + JDBC batch `INSERT ... ON DUPLICATE KEY
  *      UPDATE` (MariaDB upsert) with `addBatch`/`executeBatch` — one
  *      round-trip per `batchSize` rows per partition, executed in
  *      parallel across executors.
  *
  * Statement construction is separated from execution so it is
  * unit-testable without a live database; `write` takes a connection
  * factory for the same reason.
  */
object JdbcUpsertSink {

  /** Upsert statement dialect: builds the per-row SQL and the bind order
    * (row-column indices in placeholder position order), so `write` stays
    * dialect-agnostic. Serializable — it ships inside the
    * foreachPartition closure. */
  sealed trait UpsertDialect extends Serializable {
    def sql(table: String, columns: Seq[String], keyCols: Seq[String]): String
    def bindOrder(columns: Seq[String], keyCols: Seq[String]): Seq[Int]
  }

  /** MariaDB/MySQL `INSERT ... ON DUPLICATE KEY UPDATE` — the dialect the
    * reference's production sink targets (src/main_01.py:242-296). One
    * placeholder per column, bound once. */
  case object MySqlUpsert extends UpsertDialect {
    def sql(table: String, columns: Seq[String], keyCols: Seq[String]): String = {
      require(columns.exists(!keyCols.contains(_)), "need a non-key column to update")
      val collist = columns.map(c => s"`$c`").mkString(", ")
      val placeholders = columns.map(_ => "?").mkString(", ")
      val updates = columns.filterNot(keyCols.contains)
        .map(c => s"`$c` = VALUES(`$c`)").mkString(", ")
      s"INSERT INTO `$table` ($collist) VALUES ($placeholders) " +
        s"ON DUPLICATE KEY UPDATE $updates"
    }
    def bindOrder(columns: Seq[String], keyCols: Seq[String]): Seq[Int] =
      columns.indices
  }

  /** ANSI `MERGE INTO ... USING <one-row dummy>` — runs on Derby and DB2
    * unchanged (`SYSIBM.SYSDUMMY1`), and on any MERGE-capable engine with
    * a different dummy relation. Binds keys (ON), then non-key columns
    * (UPDATE SET), then every column (INSERT VALUES). This is the arm the
    * in-process integration test executes against a live embedded Derby,
    * proving the batch/commit/LWW behavior of [[write]] over a real JDBC
    * connection. */
  final case class AnsiMergeUpsert(dummyTable: String = "SYSIBM.SYSDUMMY1")
      extends UpsertDialect {
    // ANSI double-quoted identifiers — same identifier-safety contract as
    // the backtick-quoting MySQL arm (a column named VALUE or ORDER must
    // not break the statement). Quoted names are case-exact, so the
    // target table must be created with matching quoted identifiers.
    private def q(id: String): String = "\"" + id + "\""
    def sql(table: String, columns: Seq[String], keyCols: Seq[String]): String = {
      require(columns.exists(!keyCols.contains(_)), "need a non-key column to update")
      val on = keyCols.map(k => s"${q(table)}.${q(k)} = ?").mkString(" AND ")
      val updates = columns.filterNot(keyCols.contains)
        .map(c => s"${q(c)} = ?").mkString(", ")
      val collist = columns.map(q).mkString(", ")
      val placeholders = columns.map(_ => "?").mkString(", ")
      s"MERGE INTO ${q(table)} USING $dummyTable ON ($on) " +
        s"WHEN MATCHED THEN UPDATE SET $updates " +
        s"WHEN NOT MATCHED THEN INSERT ($collist) VALUES ($placeholders)"
    }
    def bindOrder(columns: Seq[String], keyCols: Seq[String]): Seq[Int] = {
      val idx = columns.zipWithIndex.toMap
      keyCols.map(idx) ++
        columns.zipWithIndex.collect { case (c, i) if !keyCols.contains(c) => i } ++
        columns.indices
    }
  }

  /** ANSI MERGE with a MONOTONIC guard: a matched row updates only when
    * the incoming version is >= the stored one
    * (`WHEN MATCHED AND tgt.ver <= ? THEN UPDATE`). This is what makes
    * a JDBC serving store safe under an at-least-once streaming source:
    * plain upsert dialects overwrite unconditionally, so a REPLAYED
    * older micro-batch (or an out-of-order event) would regress rows
    * the stream already advanced — the guard turns every write into a
    * last-writer-wins cell merge, replay-idempotent by construction
    * (equal versions re-apply the same values). The version column must
    * be a non-key column of the frame and totally ordered per key
    * (epoch-µs event time here). Runs on Derby/DB2 unchanged; this is
    * the live-tested arm. */
  final case class VersionedMergeUpsert(versionCol: String,
                                        dummyTable: String = "SYSIBM.SYSDUMMY1")
      extends UpsertDialect {
    private def q(id: String): String = "\"" + id + "\""
    def sql(table: String, columns: Seq[String], keyCols: Seq[String]): String = {
      require(columns.contains(versionCol),
        s"version column $versionCol must be in the frame")
      require(!keyCols.contains(versionCol), "version column cannot be a key")
      val on = keyCols.map(k => s"${q(table)}.${q(k)} = ?").mkString(" AND ")
      val updates = columns.filterNot(keyCols.contains)
        .map(c => s"${q(c)} = ?").mkString(", ")
      val collist = columns.map(q).mkString(", ")
      val placeholders = columns.map(_ => "?").mkString(", ")
      s"MERGE INTO ${q(table)} USING $dummyTable " +
        s"ON ($on) " +
        s"WHEN MATCHED AND ${q(table)}.${q(versionCol)} <= ? THEN UPDATE SET $updates " +
        s"WHEN NOT MATCHED THEN INSERT ($collist) VALUES ($placeholders)"
    }
    def bindOrder(columns: Seq[String], keyCols: Seq[String]): Seq[Int] = {
      val idx = columns.zipWithIndex.toMap
      keyCols.map(idx) ++ Seq(idx(versionCol)) ++
        columns.zipWithIndex.collect { case (c, i) if !keyCols.contains(c) => i } ++
        columns.indices
    }
  }

  /** The MySQL/MariaDB arm of the monotonic guard: every data column is
    * wrapped in `IF(VALUES(ver) >= ver, VALUES(c), c)` and the version
    * column is assigned LAST — MySQL evaluates `ON DUPLICATE KEY`
    * assignments left to right, so assigning the version earlier would
    * poison the later guards (they'd compare against the already-
    * advanced version). Statement-shape-tested; no MariaDB in the
    * sandbox (same status as [[MySqlUpsert]]). */
  final case class MySqlVersionedUpsert(versionCol: String) extends UpsertDialect {
    def sql(table: String, columns: Seq[String], keyCols: Seq[String]): String = {
      require(columns.contains(versionCol),
        s"version column $versionCol must be in the frame")
      require(!keyCols.contains(versionCol), "version column cannot be a key")
      val collist = columns.map(c => s"`$c`").mkString(", ")
      val placeholders = columns.map(_ => "?").mkString(", ")
      val guard = s"VALUES(`$versionCol`) >= `$versionCol`"
      val dataCols = columns.filterNot(c => keyCols.contains(c) || c == versionCol)
      val updates = (dataCols.map(c => s"`$c` = IF($guard, VALUES(`$c`), `$c`)") :+
        s"`$versionCol` = IF($guard, VALUES(`$versionCol`), `$versionCol`)")
        .mkString(", ")
      s"INSERT INTO `$table` ($collist) VALUES ($placeholders) " +
        s"ON DUPLICATE KEY UPDATE $updates"
    }
    def bindOrder(columns: Seq[String], keyCols: Seq[String]): Seq[Int] =
      columns.indices
  }

  /** PostgreSQL `INSERT ... ON CONFLICT (keys) DO UPDATE SET c =
    * EXCLUDED.c` — the third major dialect a real deployment hits
    * (MySQL-family, MERGE-family, Postgres-family). `EXCLUDED` is
    * Postgres's name for the row that failed to insert, playing the
    * role `VALUES(c)` plays in the MySQL arm; the conflict target must
    * name the key columns explicitly (Postgres resolves it against a
    * unique index — unlike MySQL, which fires on ANY unique violation,
    * so this arm is also the safer one on tables with secondary unique
    * indexes). One placeholder per column, bound once, same as MySQL.
    * Statement-shape-tested; no Postgres server in the sandbox (same
    * status as [[MySqlUpsert]] — the live-tested arm is Derby MERGE). */
  case object PostgresUpsert extends UpsertDialect {
    private def q(id: String): String = "\"" + id + "\""
    def sql(table: String, columns: Seq[String], keyCols: Seq[String]): String = {
      require(columns.exists(!keyCols.contains(_)), "need a non-key column to update")
      require(keyCols.nonEmpty, "ON CONFLICT needs an explicit key target")
      val collist = columns.map(q).mkString(", ")
      val placeholders = columns.map(_ => "?").mkString(", ")
      val conflict = keyCols.map(q).mkString(", ")
      val updates = columns.filterNot(keyCols.contains)
        .map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")
      s"INSERT INTO ${q(table)} ($collist) VALUES ($placeholders) " +
        s"ON CONFLICT ($conflict) DO UPDATE SET $updates"
    }
    def bindOrder(columns: Seq[String], keyCols: Seq[String]): Seq[Int] =
      columns.indices
  }

  /** The Postgres arm of the monotonic guard: `DO UPDATE ... WHERE
    * tgt.ver <= EXCLUDED.ver`. Postgres allows a WHERE clause on the
    * DO UPDATE action, which expresses the replay guard in ONE
    * predicate over the whole row — structurally cleaner than the
    * MySQL arm's per-column IF() wrapping (no assignment-order trap:
    * the WHERE is evaluated once against the STORED row before any
    * assignment happens, so the version column needs no special
    * last-position treatment). Replay-idempotent like the MERGE arm:
    * `<=` lets an equal-version replay re-apply identical values. */
  final case class PostgresVersionedUpsert(versionCol: String)
      extends UpsertDialect {
    private def q(id: String): String = "\"" + id + "\""
    def sql(table: String, columns: Seq[String], keyCols: Seq[String]): String = {
      require(columns.contains(versionCol),
        s"version column $versionCol must be in the frame")
      require(!keyCols.contains(versionCol), "version column cannot be a key")
      val collist = columns.map(q).mkString(", ")
      val placeholders = columns.map(_ => "?").mkString(", ")
      val conflict = keyCols.map(q).mkString(", ")
      val updates = columns.filterNot(keyCols.contains)
        .map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")
      s"INSERT INTO ${q(table)} ($collist) VALUES ($placeholders) " +
        s"ON CONFLICT ($conflict) DO UPDATE SET $updates " +
        s"WHERE ${q(table)}.${q(versionCol)} <= EXCLUDED.${q(versionCol)}"
    }
    def bindOrder(columns: Seq[String], keyCols: Seq[String]): Seq[Int] =
      columns.indices
  }

  /** MariaDB-dialect batched upsert statement for the loom table. */
  def upsertSql(table: String, columns: Seq[String], keyCols: Seq[String]): String =
    MySqlUpsert.sql(table, columns, keyCols)

  /** Distributed batched write. One connection per partition, one
    * executeBatch per `batchSize` rows — the reference's per-row probe
    * becomes O(rows / batchSize) round-trips spread over the cluster. */
  def write(df: DataFrame, table: String,
            connectionFactory: () => java.sql.Connection,
            keyCols: Seq[String] = LoomSchema.primaryKey,
            batchSize: Int = 1000,
            dialect: UpsertDialect = MySqlUpsert): Unit = {
    val columns = df.columns.toSeq
    val sql = dialect.sql(table, columns, keyCols)
    // placeholder p + 1 binds row column binds(p)
    val binds = dialect.bindOrder(columns, keyCols).toArray
    df.foreachPartition { rows: Iterator[Row] =>
      val conn = connectionFactory()
      try {
        conn.setAutoCommit(false)
        val stmt = conn.prepareStatement(sql)
        var n = 0
        rows.foreach { row =>
          var p = 0
          while (p < binds.length) { stmt.setObject(p + 1, row.get(binds(p))); p += 1 }
          stmt.addBatch()
          n += 1
          if (n % batchSize == 0) { stmt.executeBatch(); conn.commit() }
        }
        stmt.executeBatch(); conn.commit()
        stmt.close()
      } finally conn.close()
    }
  }
}
