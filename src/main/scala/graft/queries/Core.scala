package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions._

/** Core vector and relational queries: point lookup (p1), exact k-NN
  * and the simd_* SQL aliases (q1-q6), the quantization codecs (c*) and
  * the hydration join (j1). */
object CoreQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    // ---- P1: point lookup (storage_manager.rs:235-296) ----
    QuerySpec("p1_point_lookup", (s, dir) => {
      emb(s, dir).filter(col("vec_id") === 42L)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          size(col("embedding")).cast("long").as("dim"))
    },
      """SELECT vec_id, CAST(label AS BIGINT) AS label,
        |       CAST(len(embedding) AS BIGINT) AS dim
        |FROM embeddings WHERE vec_id = 42""".stripMargin),

    // ---- Q2/Q4: exact kNN, euclidean (rank.rs:119-186, 281-287) ----
    QuerySpec("q2_knn_euclidean", (s, dir) => {
      val q = queryVec(s, dir, 1L)
      emb(s, dir)
        .select(col("vec_id"),
          milli(vfs_euclidean(col("embedding"), typedLit(q))).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(10)
    },
      s"""SELECT vec_id,
         |       CAST(round(list_distance(CAST(embedding AS DOUBLE[]), $qSub) * 1000) AS BIGINT) AS dist_milli
         |FROM embeddings
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin),

    // ---- Q2/Q5: exact kNN, cosine (rank.rs:290-300) ----
    QuerySpec("q5_knn_cosine", (s, dir) => {
      val q = queryVec(s, dir, 1L)
      emb(s, dir)
        .select(col("vec_id"),
          milli(vfs_cosine(col("embedding"), typedLit(q))).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(10)
    },
      s"""SELECT vec_id,
         |       CAST(round(${duckCos("CAST(embedding AS DOUBLE[])", qSub)} * 1000) AS BIGINT) AS dist_milli
         |FROM embeddings
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin),

    // ---- Q6: simd_* aliases via SQL registration (rank.rs:14-56) ----
    QuerySpec("q6_knn_simd_cosine", (s, dir) => {
      graft.functions.registerAll(s)
      emb(s, dir).createOrReplaceTempView("graft_emb")
      val q = queryVec(s, dir, 1L)
      val qLit = q.map(x => s"CAST($x AS FLOAT)").mkString("array(", ",", ")")
      s.sql(
        s"""SELECT vec_id,
           |       CAST(round(simd_cosine(embedding, $qLit) * 1000) AS BIGINT) AS dist_milli
           |FROM graft_emb
           |ORDER BY dist_milli ASC, vec_id ASC
           |LIMIT 10""".stripMargin)
    },
      s"""SELECT vec_id,
         |       CAST(round(${duckCos("CAST(embedding AS DOUBLE[])", qSub)} * 1000) AS BIGINT) AS dist_milli
         |FROM embeddings
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin),

    // ---- C1: quantize (vector.rs:94-125; storage path scale 127) ----
    QuerySpec("c1_quantize_checksum", (s, dir) => {
      emb(s, dir)
        .select(col("vec_id"),
          aggregate(vfs_quantize(col("embedding"), lit(127.0f)),
            lit(0L), (acc, x) => acc + x.cast("long")).as("qsum"))
        .orderBy(col("vec_id").asc)
    },
      """SELECT vec_id,
        |       CAST(list_sum(list_transform(embedding,
        |         x -> CAST(LEAST(GREATEST(round(CAST(x AS DOUBLE) * 127), -128), 127) AS BIGINT))) AS BIGINT) AS qsum
        |FROM embeddings
        |ORDER BY vec_id ASC""".stripMargin),

    // ---- C2: dequantize round-trip error (vector.rs:135-154) ----
    QuerySpec("c2_dequantize_roundtrip", (s, dir) => {
      val dq = vfs_dequantize(
        vfs_quantize(col("embedding"), lit(127.0f)), lit(127.0f))
      emb(s, dir)
        .select(col("vec_id"),
          round(vfs_euclidean(col("embedding"), dq) * 1000000).cast("long")
            .as("err_micro"))
        .orderBy(col("vec_id").asc)
    },
      """SELECT vec_id,
        |       CAST(round(list_distance(CAST(embedding AS DOUBLE[]),
        |         list_transform(embedding,
        |           x -> CAST(CAST(LEAST(GREATEST(round(CAST(x AS DOUBLE) * 127), -128), 127) AS FLOAT) / CAST(127.0 AS FLOAT) AS DOUBLE))) * 1000000) AS BIGINT) AS err_micro
        |FROM embeddings
        |ORDER BY vec_id ASC""".stripMargin),

    // ---- J1: hydration join — top-k ids re-fetch full records
    // (tcp.rs:408-427) as a broadcast equi-join ----
    QuerySpec("j1_hydration_join", (s, dir) => {
      val q = queryVec(s, dir, 1L)
      val top = emb(s, dir)
        .select(col("vec_id"),
          milli(vfs_cosine(col("embedding"), typedLit(q))).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(5)
      top.join(broadcast(emb(s, dir).select(col("vec_id"),
          col("label").cast("long").as("label"))), Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"), col("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
    },
      s"""WITH top AS (
         |  SELECT vec_id,
         |         CAST(round(${duckCos("CAST(embedding AS DOUBLE[])", qSub)} * 1000) AS BIGINT) AS dist_milli
         |  FROM embeddings
         |  ORDER BY dist_milli ASC, vec_id ASC
         |  LIMIT 5)
         |SELECT t.vec_id, CAST(e.label AS BIGINT) AS label, t.dist_milli
         |FROM top t LEFT JOIN embeddings e ON t.vec_id = e.vec_id
         |ORDER BY t.dist_milli ASC, t.vec_id ASC""".stripMargin),

    // ---- general agg surface (Catalyst built-ins; SURVEY §2.7) ----
    // Plan (expect: partial+final hashagg)
    QuerySpec("q1_agg", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity"))).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .cast("long").as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)
    },
      """SELECT l_returnflag, l_linestatus,
        |       CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |       CAST(round(sum(l_extendedprice * (1.0 - l_discount))) AS BIGINT) AS revenue,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag ASC, l_linestatus ASC""".stripMargin),

    // ---- join + agg + top-k (shuffle-heavy path; SURVEY §2.6) ----
    // Plan (expect: hash join, partial agg, TakeOrdered)
    QuerySpec("q3_join_topk", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("long").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    },
      """SELECT o_orderkey,
        |       CAST(round(sum(l_extendedprice * (1.0 - l_discount))) AS BIGINT) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin),

    // ---- C7: JSON decode surface (from_json over event props) ----
    QuerySpec("c7_json_props", (s, dir) => {
      events(s, dir)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.IntegerType))))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).cast("long").as("k_sum"),
          count(col("k")).as("n"))
        .orderBy(col("event_type").asc)
    },
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  count(json_extract_string(props, '$.k')) AS n
        |FROM events GROUP BY event_type
        |ORDER BY event_type ASC""".stripMargin)
  )
}
