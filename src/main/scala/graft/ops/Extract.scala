package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Step 2 (Extract): project + clean + type + filter, landing → staging
  * (SURVEY.md §2.3 E1-E7 with the §2.9 semantic decisions locked in).
  *
  * Decisions (§2.9):
  *  1. bad Amount → NULL (TRY_CAST semantics, reference SP
  *     `003_sp_extract.sql:20`) and the row goes to the rejects path —
  *     not silently 0 (the JS/Java shortcut corrupts aggregates);
  *  2. blank CustomerId → 'UNKNOWN' (reference `extract.js:16`);
  *  3. rows-affected = inserted count; skipped reported separately;
  *  4. date parsing strict ISO (`try_to_date`).
  *
  * Pure `DataFrame => DataFrame` column expressions — fully codegen'd,
  * no UDFs; at scale this is a map-only stage (no shuffle).
  */
object Extract {

  private def emptyToNull(c: Column): Column =
    when(trim(c) === "", null).otherwise(trim(c))

  /** Accepted order_date formats, tried in order (§2.9 #4: strict ISO
    * first, configurable list after).
    */
  val DefaultDateFormats: Seq[String] = Seq("yyyy-MM-dd", "yyyy/MM/dd", "MM/dd/yyyy")

  private def tryDateMulti(c: Column, formats: Seq[String]): Column =
    coalesce(formats.map(f => try_to_date(c, f)): _*)

  /** E1-E7 on a landing frame. Output = staging columns + `reject_reason`
    * (null = clean). Callers split on it ([[Validation]]): clean rows →
    * staging, reject rows → the rejects store.
    */
  def extract(landing: DataFrame): DataFrame = extract(landing, DefaultDateFormats)

  def extract(landing: DataFrame, dateFormats: Seq[String]): DataFrame =
    landing
      // E5: reject-blank-key filter (row dropped entirely, not rejected —
      // reference `003_sp_extract.sql:24` excludes them from the insert).
      .filter(trim(col("order_id")).isNotNull && trim(col("order_id")) =!= "")
      .select(
        col("run_id"),
        trim(col("order_id")).as("order_id"),                                   // E1
        coalesce(emptyToNull(col("customer_id")), lit("UNKNOWN")).as("customer_id"), // E2+E6
        expr("try_cast(trim(amount) as decimal(18,2))").as("amount"),           // E3
        tryDateMulti(trim(col("order_date")), dateFormats).as("order_date"),    // E4
        current_timestamp().as("extracted_at"))                                 // E7 projection
      .withColumn("reject_reason",
        when(col("amount").isNull, "unparseable_amount")
          .when(col("order_date").isNull, "unparseable_date"))
}

/** Step 3 (Transform): derived amount_category (SURVEY.md §2.4).
  *
  * T1: CASE bucketing at 50/200 (identical in all three reference
  * impls — `004_sp_transform.sql:21-25`).
  * T2: the Java fault-injection branch (negative amount) is reproduced
  * as a *validation* rule: negative amounts are routed to rejects with
  * `negative_amount`, surfaced as a step Warning/Failure — the
  * testable-failure capability, not the NVARCHAR-overflow hack.
  */
object Transform {

  def amountCategory(amount: Column): Column =
    when(amount < 50, "Low")
      .when(amount < 200, "Medium")
      .otherwise("High")

  /** T1+T3 plus the T2 validation column. */
  def transform(staging: DataFrame): DataFrame =
    staging
      .withColumn("amount_category", amountCategory(col("amount")))
      .withColumn("reject_reason", when(col("amount") < 0, "negative_amount"))
}

/** The split of a validated frame ([[Extract.extract]],
  * [[Transform.transform]]) on its `reject_reason` column. */
object Validation {

  def clean(validated: DataFrame): DataFrame =
    validated.filter(col("reject_reason").isNull).drop("reject_reason")

  def rejects(validated: DataFrame): DataFrame =
    validated.filter(col("reject_reason").isNotNull)
}
