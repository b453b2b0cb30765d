package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Source connectors and store change feeds (`src_*`): JSONL/ORC/CSV
  * round trips, incremental changes, upserts and snapshot diffs. */
object SrcQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    // ---- JSONL sink + source roundtrip: the interchange format of
    // text-corpus pipelines — write the documents table as JSON lines,
    // read it back under the ORIGINAL schema (inference would widen
    // ints), prove byte-faithful content ----
    QuerySpec("src_jsonl_roundtrip", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val tmp = java.nio.file.Files
        .createTempDirectory("verify-jsonl").toString
      d.write.mode("overwrite").json(s"$tmp/docs")
      s.read.schema(d.schema).json(s"$tmp/docs")
        .orderBy(col("doc_id").asc)
    },
      "SELECT * FROM documents ORDER BY doc_id ASC"),

    // ---- ORC sink + source roundtrip (the other columnar format) ----
    QuerySpec("src_orc_roundtrip", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val tmp = java.nio.file.Files
        .createTempDirectory("verify-orc").toString
      d.write.mode("overwrite").orc(s"$tmp/docs")
      s.read.schema(d.schema).orc(s"$tmp/docs")
        .orderBy(col("doc_id").asc)
    },
      "SELECT * FROM documents ORDER BY doc_id ASC"),

    // ---- CSV sink + source roundtrip: quoted/escaped multiline text
    // survives; schema pinned on read (inference would widen) ----
    QuerySpec("src_csv_roundtrip", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val tmp = java.nio.file.Files
        .createTempDirectory("verify-csv").toString
      d.write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .option("escape", "\"")
        .csv(s"$tmp/docs")
      s.read.schema(d.schema)
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"")
        .csv(s"$tmp/docs")
        .orderBy(col("doc_id").asc)
    },
      "SELECT * FROM documents ORDER BY doc_id ASC"),

    // ---- incremental (CDC) read: snapshot the store after a base
    // load, append a second batch, and read ONLY the delta via the
    // commit-list diff — a pure file-level operation (the scan touches
    // just the new commit dirs). Rows are keyed by name (= vec_id) so
    // the check is independent of the store's internal id assignment;
    // the checksum pins the float payload through the parquet
    // round trip ----
    QuerySpec("src_incremental_changes", (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-cdc").toString
      val e = emb(s, dir)
      val d = e.select(size(col("embedding"))).head().getInt(0)
      val store = graft.store.VfsStore.create(s, tmp, "cdc", dim = d)
      def batch(lo: Long, hi: Long) = e
        .filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("embedding").as("values"),
          col("vec_id").cast("string").as("name"),
          array().cast("array<string>").as("tags"))
      store.appendBatch(batch(0L, 300L))
      store.snapshot("base")
      store.appendBatch(batch(300L, 450L))
      store.changesSince("base")
        .select(col("name"),
          size(col("values")).cast("long").as("n_lanes"),
          round(aggregate(col("values").cast("array<double>"),
            lit(0.0d), (acc, x) => acc + x) * 1000).cast("long")
            .as("sum_milli"))
        .orderBy(col("name").asc)
    },
      // the engine's changesSince must surface exactly the second batch
      // (vec_id 300..449) regardless of internal id assignment
      """SELECT CAST(vec_id AS VARCHAR) AS name,
        |  CAST(len(embedding) AS BIGINT) AS n_lanes,
        |  CAST(round(list_sum(CAST(embedding AS DOUBLE[])) * 1000)
        |    AS BIGINT) AS sum_milli
        |FROM embeddings WHERE vec_id >= 300 AND vec_id < 450
        |ORDER BY name ASC""".stripMargin),

    // ---- store MERGE surface: batch upsert-by-name in ONE atomic
    // manifest swap — replaced names carry the NEW payload, survivors
    // keep theirs, inserts appear. Keyed by name (like the CDC row
    // above) so the check is independent of internal id assignment;
    // the negated-vector checksum pins WHICH payload won ----
    QuerySpec("src_upsert", (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-ups").toString
      val e = emb(s, dir)
      val d = e.select(size(col("embedding"))).head().getInt(0)
      val store = graft.store.VfsStore.create(s, tmp, "ups", dim = d)
      def asBatch(df: DataFrame) = df
        .select(col("values"), col("vec_id").cast("string").as("name"),
          array().cast("array<string>").as("tags"))
      store.appendBatch(asBatch(e.filter(col("vec_id") < 400L)
        .withColumn("values", col("embedding"))))
      val replace = asBatch(e
        .filter(col("vec_id") < 400L && col("vec_id") % 5 === 0)
        .withColumn("values", transform(col("embedding"), x => -x)))
      val insert = asBatch(e
        .filter(col("vec_id") >= 400L && col("vec_id") < 410L)
        .withColumn("values", col("embedding")))
      store.upsertBatch(replace.unionByName(insert))
      store.read()
        .select(col("name"),
          size(col("values")).cast("long").as("n_lanes"),
          round(aggregate(col("values").cast("array<double>"),
            lit(0.0d), (acc, x) => acc + x) * 1000).cast("long")
            .as("sum_milli"))
        .orderBy(col("name").asc)
    },
      // post-upsert corpus: survivors keep the original payload, every
      // fifth name carries the NEGATED vector, 400..409 are inserted
      """WITH u AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS name, embedding
        |  FROM embeddings WHERE vec_id < 400 AND vec_id % 5 <> 0
        |  UNION ALL
        |  SELECT CAST(vec_id AS VARCHAR) AS name,
        |    list_transform(embedding, x -> -x) AS embedding
        |  FROM embeddings WHERE vec_id < 400 AND vec_id % 5 = 0
        |  UNION ALL
        |  SELECT CAST(vec_id AS VARCHAR) AS name, embedding
        |  FROM embeddings WHERE vec_id >= 400 AND vec_id < 410)
        |SELECT name, CAST(len(embedding) AS BIGINT) AS n_lanes,
        |  CAST(round(list_sum(CAST(embedding AS DOUBLE[])) * 1000)
        |    AS BIGINT) AS sum_milli
        |FROM u ORDER BY name ASC""".stripMargin),

    // ---- exact row-level snapshot diff: base load → snapshot →
    // append a second batch AND delete every 30th base row → the diff
    // must report exactly the appended rows as added and the deleted
    // ones as removed, across the deleteWhere rewrite (where the
    // file-level commit diff deliberately resets) ----
    QuerySpec("src_snapshot_diff", (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-diff").toString
      val e = emb(s, dir)
      val d = e.select(size(col("embedding"))).head().getInt(0)
      val store = graft.store.VfsStore.create(s, tmp, "diff", dim = d)
      def batch(lo: Long, hi: Long) = e
        .filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("embedding").as("values"),
          col("vec_id").cast("string").as("name"),
          array().cast("array<string>").as("tags"))
      store.appendBatch(batch(0L, 300L))
      store.snapshot("base")
      store.appendBatch(batch(300L, 450L))
      val victims = (0L until 300L by 30L).map(_.toString)
      store.deleteWhere(col("name").isin(victims: _*))
      store.diffSnapshot("base")
        .select(col("name"), col("change"))
        .orderBy(col("change").asc, col("name").asc)
    },
      // added = the appended batch, removed = the deleted base rows;
      // keyed by name, independent of internal id assignment
      """SELECT CAST(vec_id AS VARCHAR) AS name, 'added' AS change
        |FROM embeddings WHERE vec_id >= 300 AND vec_id < 450
        |UNION ALL
        |SELECT CAST(vec_id AS VARCHAR) AS name, 'removed' AS change
        |FROM embeddings WHERE vec_id < 300 AND vec_id % 30 = 0
        |ORDER BY change ASC, name ASC""".stripMargin)
  )
}
