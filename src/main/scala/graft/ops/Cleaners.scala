package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType}

/** The reference's three cleaning transforms, re-expressed as composable
  * `DataFrame => DataFrame` functions (used via `.transform(...)`).
  *
  * Semantics match `(Clone) Pinterest Data Cleaning and Queries.py:60-101`
  * and `(Clone) Kinesis Data Stream.py:117-163` exactly, including the
  * documented quirks ("2.5k" -> "2.5000" -> NULL after int cast).
  *
  * Everything here is built-in `functions._` Columns — whole-stage-codegen
  * friendly, no UDFs — so the cleaners cost one narrow projection at any
  * scale (the only shuffle is the trailing dropDuplicates, which is part of
  * the reference contract).
  */
object Cleaners {

  /** The five sentinel strings the reference rewrites to SQL NULL across
    * all string columns — `(Clone) Pinterest Data Cleaning and
    * Queries.py:59-63`, bit-faithful (exact-match only, no extras).
    */
  val sentinels: Seq[String] = Seq(
    "User Info Error",
    "Untitled",
    "No Title Data Available",
    "N,o, ,T,a,g,s, ,A,v,a,i,l,a,b,l,e",
    "Image src error.")

  /** Rewrite every sentinel to NULL in all string columns of `df`
    * (`CLEAN:61-65` uses `df.replace`, which is exactly `na.replace` over
    * every column).
    */
  def nullifySentinels(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields
      .filter(_.dataType.typeName == "string").map(_.name)
    if (stringCols.isEmpty) df
    else df.na.replace(stringCols, sentinels.map(s => s -> null).toMap)
  }

  /** Parse human-suffixed counts: "25k" -> 25000, "2M" -> 2000000.
    *
    * Faithful to `CLEAN:66-68`: pure textual substitution then int cast, so
    * "2.5k" -> "2.5000" -> NULL. This is a documented-lossy rule, kept
    * bit-identical to the reference rather than "fixed". `try_cast` because
    * Spark 4 defaults to ANSI casts; the reference ran with null-on-error.
    */
  def parseFollowerCount(c: Column): Column =
    regexp_replace(regexp_replace(c, "k", "000"), "M", "000000")
      .try_cast(IntegerType)

  /** Age bucketing CASE — `CLEAN:196-201` (same text in Tasks 7/8/11).
    * Note the reference quirk: anything outside the three explicit ranges
    * (including under-18) falls into "+50".
    */
  def ageBucket(age: Column): Column =
    when(age.between(18, 24), "18-24")
      .when(age.between(25, 35), "25-35")
      .when(age.between(36, 50), "36-50")
      .otherwise("+50")

  /** pin cleaner — `CLEAN:60-74` / `KINESIS:117-132`.
    * sentinel->NULL, follower_count parse, save_location prefix strip,
    * rename index->ind, drop `downloaded`, fixed column order, dedup on
    * `description`. Batch and stream share it: on a streaming frame the
    * dedup compiles to the stateful StreamingDeduplicate.
    */
  def pinClean(df: DataFrame): DataFrame =
    nullifySentinels(df)
      .withColumn("follower_count", parseFollowerCount(col("follower_count")))
      // the reference strips "Local save in" WITHOUT the trailing space
      // (`CLEAN:68`), so cleaned paths keep a leading " " — a quirk
      // preserved deliberately for bit-identical output
      .withColumn("save_location",
        regexp_replace(col("save_location"), "Local save in", ""))
      .withColumnRenamed("index", "ind")
      .drop("downloaded")
      .select("ind", "unique_id", "title", "description", "follower_count",
        "poster_name", "tag_list", "is_image_or_video", "image_src",
        "save_location", "category")
      .dropDuplicates("description")

  /** geo cleaner — `CLEAN:82-88` / `KINESIS:138-149`.
    * latitude+longitude fused into `coordinates: array<float>`, timestamp
    * parsed, dedup on `ind`.
    */
  def geoClean(df: DataFrame): DataFrame =
    df.withColumn("coordinates",
        array(col("latitude").cast(FloatType), col("longitude").cast(FloatType)))
      .drop("latitude", "longitude")
      .withColumn("timestamp", to_timestamp(col("timestamp")))
      .select("ind", "country", "coordinates", "timestamp")
      .dropDuplicates("ind")

  /** user cleaner — `CLEAN:95-101` / `KINESIS:153-163`.
    * first+last name concatenated into `user_name`, originals dropped,
    * date parsed, dedup on `ind`.
    */
  def userClean(df: DataFrame): DataFrame =
    df.withColumn("user_name",
        concat(col("first_name"), lit(" "), col("last_name")))
      .drop("first_name", "last_name")
      .withColumn("date_joined", to_timestamp(col("date_joined")))
      .select("ind", "user_name", "age", "date_joined")
      .dropDuplicates("ind")
}
