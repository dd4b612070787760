package graft.sources

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Cdc

/** S9 "production" sink: lands each CDC micro-batch in a JDBC-reachable
  * analytical store via staged MERGE — the engine-side equivalent of the
  * ClickHouse ReplacingMergeTree landing table the reference provisions
  * (reference: docker-compose.yml:155-174), expressed as ANSI MERGE so it
  * runs on anything with a JDBC driver.
  *
  * Shape per micro-batch (the standard ELT merge at any scale):
  *   1. within-batch compaction to latest-per-key ([[Cdc.latestByKey]] —
  *      a batch transform reused unchanged, same as [[graft.streaming.Streams]]'
  *      in-memory sink);
  *   2. executors write the compacted batch to a staging table in
  *      parallel (`df.write.jdbc`, one connection per partition — the
  *      only data-volume-proportional step, and it scales with
  *      partitions);
  *   3. ONE driver-side `MERGE INTO target USING staging` applies
  *      version-gated upserts and tombstone deletes inside the database —
  *      set-based, no per-row round-trips.
  *
  * Schema evolution: a batch column the target lacks is added to it,
  * and existing rows read NULL there. A column dropped upstream is
  * absent from the batch (a registry decode resolves old rows onto the
  * latest schema, [[SchemaRegistry.resolveAndDecodeById]]) and simply
  * stops being updated: the target keeps the column and its values, and
  * rows inserted later read NULL in it.
  *
  * Idempotent under micro-batch replay (at-least-once upgrade, ST1/ST2/
  * ST3): re-merging the same staging rows matches `version > target` on
  * nothing. Out-of-order redelivery is rejected by the same predicate.
  *
  * Used as a `foreachBatch` body:
  * {{{
  *   stream.writeStream.foreachBatch(
  *     JdbcUpsertSink(url, "users_latest", "id", "version", "__deleted")).start()
  * }}}
  */
object JdbcUpsertSink {

  /** Quoted identifier (JDBC targets fold unquoted names; Spark's JDBC
    * writer quotes on CREATE, so the MERGE must quote to match). */
  private def q(ident: String): String = "\"" + ident + "\""

  def apply(url: String, table: String, keyCol: String, versionCol: String,
      tombstoneCol: String,
      props: Properties = new Properties): (DataFrame, Long) => Unit =
    (batch, _) => merge(batch, url, table, keyCol, versionCol, tombstoneCol, props)

  def merge(batch: DataFrame, url: String, table: String, keyCol: String,
      versionCol: String, tombstoneCol: String,
      props: Properties = new Properties): Unit = {
    val compacted =
      Cdc.latestByKey(batch, Seq(keyCol), Seq(col(versionCol)))
    val staging = table + "_stage"
    compacted.write.mode("overwrite").jdbc(url, q(staging), props)

    // target columns: everything but the tombstone flag
    val cols = compacted.columns.filterNot(_ == tombstoneCol).toSeq
    val dataCols = cols.filterNot(_ == keyCol)
    val conn = DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      // create target on first contact, empty, with the staging schema
      val exists = {
        val rs = conn.getMetaData.getTables(null, null, table, null)
        try rs.next() finally rs.close()
      }
      if (!exists) {
        st.executeUpdate(
          s"""CREATE TABLE ${q(table)} AS
             |SELECT ${cols.map(q).mkString(", ")} FROM ${q(staging)}
             |WITH NO DATA""".stripMargin)
        // key index at create time: without it the MERGE's ON clause is
        // a nested-loop scan of the whole target per staged row —
        // quadratic in table size, measured as a wall-clock cliff by
        // tools/StreamBench. An upsert sink's key is its lookup path;
        // every real OLAP/JDBC target would carry a PK here.
        st.executeUpdate(
          s"CREATE INDEX ${q(table + "_key_idx")} ON ${q(table)}(${q(keyCol)})")
      }
      else {
        // create-if-absent key index: a target created by pre-index code
        // (checkpointed stream resumed against an old table — exactly the
        // upgrade/recovery scenario the sink exists for) would otherwise
        // keep the quadratic nested-loop MERGE cliff forever. Any index
        // whose leading column is the key serves the MERGE's ON lookup.
        // "present" means EITHER any index leading with the key column
        // OR an index already named <table>_key_idx (r14 ADVICE: a
        // same-named index on a different leading column would otherwise
        // make the unconditional CREATE INDEX throw a duplicate-name
        // SQLException and kill the stream on every resume attempt)
        val (hasKeyIndex, takenNames) = {
          val rs = conn.getMetaData.getIndexInfo(null, null, table, false, false)
          try {
            var leads = false
            val names = scala.collection.mutable.Set.empty[String]
            while (rs.next()) {
              val n = rs.getString("INDEX_NAME")
              if (n != null) names += n.toLowerCase
              leads ||= rs.getShort("ORDINAL_POSITION") == 1 &&
                keyCol.equalsIgnoreCase(rs.getString("COLUMN_NAME"))
            }
            (leads, names.toSet)
          } finally rs.close()
        }
        if (!hasKeyIndex) {
          // r15 ADVICE: when an UNRELATED index already squats on the
          // canonical name, don't silently skip — that keeps the
          // quadratic nested-loop MERGE forever. Create under the first
          // free uniquified name and say so.
          val name = (Iterator(table + "_key_idx") ++
            Iterator.from(2).map(i => s"${table}_key_idx$i"))
            .find(n => !takenNames.contains(n.toLowerCase)).get
          if (name != table + "_key_idx")
            System.err.println(
              s"[upsert-sink] index name ${table}_key_idx is taken by a " +
                s"non-key index; creating key index as $name")
          st.executeUpdate(
            s"CREATE INDEX ${q(name)} ON ${q(table)}(${q(keyCol)})")
        }
        // schema evolution (the whole-DB CDC reality — upstream tables
        // gain columns mid-stream): add staging columns the target lacks,
        // typed from the staging table the JDBC writer just created.
        def columnsOf(t: String): Map[String, (String, Int)] = {
          val rs = conn.getMetaData.getColumns(null, null, t, null)
          val out = scala.collection.mutable.Map.empty[String, (String, Int)]
          while (rs.next()) out(rs.getString("COLUMN_NAME")) =
            (rs.getString("TYPE_NAME"), rs.getInt("COLUMN_SIZE"))
          rs.close(); out.toMap
        }
        val have = columnsOf(table).keySet
        val stagingTypes = columnsOf(staging)
        for (c <- cols if !have.contains(c)) {
          val (tpe, size) = stagingTypes(c)
          val ddlType =
            if (tpe.equalsIgnoreCase("VARCHAR")) s"VARCHAR($size)" else tpe
          st.executeUpdate(
            s"ALTER TABLE ${q(table)} ADD COLUMN ${q(c)} $ddlType")
        }
      }
      val setList = dataCols.map(c => s"${q(c)} = s.${q(c)}").mkString(", ")
      val insertCols = cols.map(q).mkString(", ")
      val insertVals = cols.map(c => s"s.${q(c)}").mkString(", ")
      st.executeUpdate(
        s"""MERGE INTO ${q(table)} t USING ${q(staging)} s
           |ON t.${q(keyCol)} = s.${q(keyCol)}
           |WHEN MATCHED AND s.${q(tombstoneCol)} AND s.${q(versionCol)} >= t.${q(versionCol)} THEN DELETE
           |WHEN MATCHED AND NOT s.${q(tombstoneCol)} AND s.${q(versionCol)} > t.${q(versionCol)} THEN UPDATE SET $setList
           |WHEN NOT MATCHED AND NOT s.${q(tombstoneCol)} THEN INSERT ($insertCols) VALUES ($insertVals)""".stripMargin)
      st.close()
    } finally conn.close()
  }
}
