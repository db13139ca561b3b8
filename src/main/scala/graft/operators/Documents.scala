package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document CRUD re-expressed relationally (reference SURVEY §2.1):
  * vearch's upsert/delete/get-by-ids REST verbs become pure DataFrame
  * transforms here; against a transactional table format (Delta/Iceberg)
  * the same expressions drive `MERGE INTO`/`DELETE`. The reference write
  * path is POST /document/upsert → Engine::AddOrUpdate
  * (internal/engine/search/engine.cc:697-785); delete-by-query is
  * handler_document.go:498-555.
  *
  * Scale notes: upsert is an id-keyed anti-join — shuffles both sides on
  * the id hash (same layout vearch gets from murmur3 slot routing,
  * internal/entity/space.go:210-236). If the base table is bucketed by
  * `_id` the shuffle drops to the updates side only. getByIds broadcasts
  * the (tiny) request set — no corpus shuffle at all.
  */
object Documents {

  /** Insert-or-replace by id: rows in `updates` win over `base` (vearch
    * update path diffs fields; full-row replace is the relational
    * equivalent since updates carry the whole document).
    * `updates` must be unique per id (vearch applies batch items in order;
    * pre-dedupe with [[lastWinsById]] when needed).
    */
  def upsert(base: DataFrame, updates: DataFrame, idCol: String): DataFrame =
    base.join(updates.select(idCol), Seq(idCol), "left_anti")
      .unionByName(updates.select(base.columns.map(col).toIndexedSeq: _*))

  /** Collapse a batch with repeated ids to its last occurrence (vearch
    * applies items sequentially, last write wins). Ties on `orderCol`
    * (same-timestamp writes) break on a content hash so the winner is a
    * function of the DATA, not partition arrival order — re-running the
    * same compact surfaces the same document version.
    */
  def lastWinsById(updates: DataFrame, idCol: String, orderCol: String): DataFrame = {
    val contentTie = xxhash64(struct(updates.columns.map(col).toIndexedSeq: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col(orderCol).desc, contentTie.desc)
    updates.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Soft-delete-by-ids ≡ anti-filter (engine.cc:869-899 sets a bitmap;
    * relationally the rows just stop matching). NULL-safe: a null id
    * matches nothing, so the row survives (SQL DELETE deletes only rows
    * where the predicate IS TRUE).
    */
  def deleteByIds(df: DataFrame, idCol: String, ids: Seq[Any]): DataFrame =
    df.filter(!coalesce(col(idCol).isin(ids: _*), lit(false)))

  /** Literal id lists up to this size ride a NOT-IN scan predicate; larger
    * ones a broadcast anti-join ([[dropIds]]).
    */
  private[graft] val MaxLiteralIds = 1000

  /** Drop the rows whose `key` is one of `ids` — the delete-ledger gate of
    * a served layout or a realtime tail, and the tail's supersede gate on
    * base hits. Up to [[MaxLiteralIds]] ids ride a NOT-IN predicate
    * (parquet-pushable); more a broadcast anti-join, so a large delete
    * batch never bloats the plan and codegen with a giant NOT-IN. The
    * anti-join side carries the ids cast to `idType`, the key's type.
    */
  def dropIds(df: DataFrame, key: Column, ids: Iterable[Long],
      idType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType): DataFrame =
    if (ids.isEmpty) df
    else if (ids.size <= MaxLiteralIds) df.filter(!key.isin(ids.toSeq: _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      val idDf = ids.toSeq.toDF("_drop_id").select(col("_drop_id").cast(idType))
      df.join(broadcast(idDf), key === col("_drop_id"), "left_anti")
    }

  /** Delete-by-query: runs the filter, removes matches
    * (handler_document.go:498-555 does query→ids→delete; relationally one
    * negated predicate — same result, no id round-trip). NULL predicate
    * results keep the row: plain `!pred` would silently delete every row
    * where the predicate evaluates to NULL (e.g. a null-valued field).
    */
  def deleteByQuery(df: DataFrame, pred: Column): DataFrame =
    df.filter(!coalesce(pred, lit(false)))

  /** Point lookups preserving request order (router re-orders responses to
    * match the request id list, internal/client/client.go:1154-1170).
    * The id list (any id type — the canonical `_id` is a string) becomes a
    * broadcast inner join. CONTRACT: the result carries an extra `_ord`
    * int column (the request position) and is sorted by it — callers that
    * need the bare document schema drop it.
    */
  def getByIds(df: DataFrame, idCol: String, ids: Seq[Any]): DataFrame = {
    val spark = df.sparkSession
    val rows = ids.zipWithIndex.map { case (id, i) =>
      org.apache.spark.sql.Row(i, id)
    }
    val idType = df.schema(idCol).dataType
    val req = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_ord",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField(idCol, idType, nullable = true))))
    // the join alone scans the whole table to return |ids| rows — push
    // the id list INTO the scan too (parquet row-group skipping /
    // dictionary filters), so a point lookup's IO tracks the request,
    // not the corpus. Bounded: a pathological id list falls back to the
    // bare join rather than bloating the plan with a giant IN.
    val pruned =
      if (ids.nonEmpty && ids.size <= 10000) df.filter(col(idCol).isin(ids: _*))
      else df
    pruned.join(broadcast(req), Seq(idCol), "inner").orderBy(col("_ord"))
  }

  /** Default missing ids (vearch generates a UUID when `_id` is absent,
    * client.go:1197-1221). Deterministic flavor: content hash, so re-runs
    * of the same batch converge — the property the UUID path lacks. But
    * content-IDENTICAL rows in one batch must still get DISTINCT ids
    * (vearch's UUIDs are always distinct; duplicate _ids would make a
    * later upsert of that id silently collapse both copies), so the 2nd+
    * occurrence of the same content gets an occurrence suffix. The
    * common case (unique content) keeps the bare 32-char md5.
    */
  def withDefaultIds(df: DataFrame, idCol: String): DataFrame = {
    val others = df.columns.filter(_ != idCol).map(col).toIndexedSeq
    val h = md5(to_json(struct(others: _*)))
    // occurrence slots are counted over NULL-id rows only (the null flag is
    // part of the partition key): an explicit-id row with identical content
    // never consumes a slot, so generated suffixes don't shift with its
    // arrival order. Rows inside one (hash, null) group are content-identical
    // by construction, so slot assignment among them is multiset-deterministic.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(h, col(idCol).isNull).orderBy(h)
    df.withColumn("_occ", row_number().over(w))
      .withColumn(idCol, coalesce(col(idCol),
        when(col("_occ") === 1, h).otherwise(concat(h, lit("-"), col("_occ")))))
      .drop("_occ")
  }
}
