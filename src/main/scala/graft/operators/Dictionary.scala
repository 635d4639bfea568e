package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dictionary encoding — ENCODE / DECODE / CREATE DICTIONARY / refresh
  * (reference: operator/DictionaryEncodeOperator.java:48,
  * DictionaryDecodeOperator.java:41, utils/CodeDictionary.java:37-41 —
  * codes are ints starting at 1; refresh jobs
  * analyzer/physical/ShuffleRewriter.java:128-245).
  *
  * A dictionary is a small DataFrame (colvalue STRING, code INT) per encoded
  * column — broadcast-joined against the data while it provably fits
  * ([[Joins.boundedBroadcast]]), so encode/decode never shuffles the fact
  * table in the common case, and falls back to a plain shuffle join for
  * pathologically large dictionaries instead of OOMing. The reference
  * assumed an in-memory dictionary unconditionally
  * (DictionaryEncodeOperator.java:48). Codes are assigned by sorted order
  * for determinism (the reference assigned by arrival order within its
  * single-reducer dictionary job, which is not reproducible in parallel).
  */
object Dictionary {

  /** CREATE DICTIONARY — distinct values of `column`, codes 1..N assigned in
    * value-sorted order (codes start at 1 per CodeDictionary.java:41; code 0
    * is reserved for NULL).
    * The single row_number window over the distinct set is fine at any scale:
    * a dictionary that doesn't fit one partition shouldn't be a dictionary.
    */
  def create(df: DataFrame, column: String): DataFrame =
    df.select(col(column).cast("string").as("colvalue"))
      .filter(col("colvalue").isNotNull)
      .distinct()
      .withColumn("code", row_number().over(Window.orderBy(col("colvalue"))))

  /** Dictionary refresh — keep existing codes stable, append codes for new
    * values starting after the current max (reference semantics:
    * DictionaryRefreshMapSideOperator.java:34 / ReduceSideOperator.java:29).
    */
  def refresh(existing: DataFrame, df: DataFrame, column: String): DataFrame = {
    // a multi-column dictionary's colvalue is only unique per colname; the
    // anti-join below would suppress cross-column values and the union
    // would fail on the missing colname — use refreshMulti for that shape
    require(!existing.columns.contains("colname"),
      "refresh takes a single-column dictionary; use refreshMulti for the " +
        "multi-column (colname, colvalue, code) shape")
    val maxCode = existing.agg(coalesce(max("code"), lit(0))).first().getInt(0)
    val newVals = df.select(col(column).cast("string").as("colvalue"))
      .filter(col("colvalue").isNotNull)
      .distinct()
      .join(existing.select("colvalue"), Seq("colvalue"), "left_anti")
      .withColumn("code", row_number().over(Window.orderBy(col("colvalue"))) + lit(maxCode))
    existing.unionByName(newVals)
  }

  /** Refresh a MULTI-column dictionary: each listed column's slice keeps
    * its codes and appends codes for new values (per-column numbering, as
    * [[createMulti]] assigns); slices for columns not listed pass through.
    */
  def refreshMulti(existing: DataFrame, df: DataFrame, cols: Seq[String]): DataFrame = {
    require(existing.columns.contains("colname"),
      "refreshMulti takes the multi-column (colname, colvalue, code) shape")
    val untouched = existing.filter(!col("colname").isin(cols: _*))
    cols.map { c =>
      val slice = existing.filter(col("colname") === c).drop("colname")
      refresh(slice, df, c).withColumn("colname", lit(c))
    }.foldLeft(untouched)(_ unionByName _)
  }

  /** Multi-column dictionary — the reference's global dictionary shape:
    * one (colname, colvalue, code) relation covering several columns
    * (reference: plan/physical/GenerateDictionary.java:50; codes are
    * per-column, each starting at 1).
    */
  def createMulti(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map(c => create(df, c).withColumn("colname", lit(c)))
      .reduce(_ unionByName _)

  /** Slice a dictionary down to one column's map: multi-column dictionaries
    * filter on colname, per-column dictionaries pass through.
    */
  private def forColumn(dict: DataFrame, column: String): DataFrame =
    if (dict.columns.contains("colname")) dict.filter(col("colname") === column)
    else dict

  /** ENCODE over several columns against a (possibly multi-column)
    * dictionary (reference grammar: ENCODE ID on columns — plural).
    */
  def encodeMulti(df: DataFrame, cols: Seq[String], dict: DataFrame,
                  nullsAs: Int = 0, unknownsAs: Option[Int] = None): DataFrame =
    cols.foldLeft(df)((d, c) => encode(d, c, forColumn(dict, c), nullsAs, unknownsAs))

  /** DECODE over several columns against a (possibly multi-column) dictionary. */
  def decodeMulti(df: DataFrame, cols: Seq[String], dict: DataFrame,
                  unknownsAs: Option[String] = None): DataFrame =
    cols.foldLeft(df)((d, c) => decode(d, c, forColumn(dict, c), unknownsAs))

  /** ENCODE x ON col USING dict [NULLS AS v] [UNKNOWNS AS n] — replace the
    * string column by its int code via broadcast join
    * (reference: DictionaryEncodeOperator.java:48).
    */
  def encode(df: DataFrame, column: String, dict: DataFrame,
             nullsAs: Int = 0, unknownsAs: Option[Int] = None): DataFrame = {
    // both sides ride under private positional names: a fact table with
    // its own 'code'/'colvalue' column — or duplicate column names from an
    // upstream join — must neither become ambiguous nor lose a column
    val idx = df.columns.indexOf(column)
    require(idx >= 0, s"encode: no column $column in ${df.columns.mkString(", ")}")
    val names = df.columns.toSeq
    val tmp = names.indices.map(i => s"__graft_in_$i")
    val dfT = df.toDF(tmp: _*)
    val target = col(tmp(idx))
    val d = Joins.boundedBroadcast(dict.select(col("colvalue").as("__graft_dict_value"),
      col("code").as("__graft_dict_code")))
    val joined = dfT.join(d,
      target.cast("string") === col("__graft_dict_value"), "left_outer")
    // Without UNKNOWNS AS, a value missing from the dictionary fails loudly
    // — the reference's DictionaryEncodeOperator throws for unknown values
    // rather than emitting silent NULL codes.
    val code = when(target.isNull, lit(nullsAs))
      .otherwise(unknownsAs match {
        case Some(u) => coalesce(col("__graft_dict_code"), lit(u))
        case None    => coalesce(col("__graft_dict_code"),
          raise_error(concat(lit(s"ENCODE: value not in dictionary for $column: "),
            target.cast("string"))))
      })
    // replace in place — the reference operator keeps the column position,
    // and positional consumers (text STORE + declared-schema reload)
    // depend on it
    joined.select(tmp.indices.map(i =>
      if (i == idx) code.as(column) else col(tmp(i)).as(names(i))): _*)
  }

  /** DECODE x ON col USING dict [UNKNOWNS AS s] — inverse of encode
    * (reference: DictionaryDecodeOperator.java:41). `nullsAs` names the
    * code [[encode]] wrote for NULL (default 0) so those rows decode back
    * to NULL rather than to the unknowns string.
    */
  def decode(df: DataFrame, column: String, dict: DataFrame,
             unknownsAs: Option[String] = None,
             nullsAs: Int = 0): DataFrame = {
    val idx = df.columns.indexOf(column)
    require(idx >= 0, s"decode: no column $column in ${df.columns.mkString(", ")}")
    val names = df.columns.toSeq
    val tmp = names.indices.map(i => s"__graft_in_$i")
    val dfT = df.toDF(tmp: _*)
    val target = col(tmp(idx))
    val d = Joins.boundedBroadcast(dict.select(col("colvalue").as("__graft_dict_value"),
      col("code").as("__graft_dict_code")))
    val joined = dfT.join(d, target === col("__graft_dict_code"), "left_outer")
    val value = unknownsAs match {
      case Some(u) =>
        when(target.isNull || target === lit(nullsAs), lit(null))
          .otherwise(coalesce(col("__graft_dict_value"), lit(u)))
      case None => col("__graft_dict_value")
    }
    joined.select(tmp.indices.map(i =>
      if (i == idx) value.as(column) else col(tmp(i)).as(names(i))): _*)
  }

  /** ENCODE over several columns at once (reference ENCODE takes a column
    * list); each column gets its own dictionary.
    */
  def encodeAll(df: DataFrame, dicts: Map[String, DataFrame],
                nullsAs: Int = 0, unknownsAs: Option[Int] = None): DataFrame =
    dicts.foldLeft(df) { case (acc, (c, d)) => encode(acc, c, d, nullsAs, unknownsAs) }

  def decodeAll(df: DataFrame, dicts: Map[String, DataFrame],
                unknownsAs: Option[String] = None): DataFrame =
    dicts.foldLeft(df) { case (acc, (c, d)) => decode(acc, c, d, unknownsAs) }

  /** Persist / load a dictionary as a table (the reference stored
    * dictionaries as Avro files refreshed by a dedicated job).
    */
  def save(dict: DataFrame, path: String): Unit =
    dict.coalesce(1).write.mode("overwrite").parquet(path)

  def load(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)
}
