package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.Schemas
import graft.util.NioLocalFileSystem

/** Step 1 (Data Pull): CSV/JSON ingestion into the landing stage
  * (SURVEY.md §2.1 S1-S3, §2.2 K1).
  *
  * Headers/fields are matched case-insensitively against the canonical
  * business columns (`OrderId`/`orderId`/`ORDERID` all accepted —
  * reference `pull.js:31-33`, `PullStep.java:96-106`); extra columns
  * are dropped, missing ones become NULL, every value lands as a
  * trimmed-later string, and the whole source record is re-serialized
  * into `raw_payload` (reference `pull.js:50`).
  *
  * Scale: file reads are distributed (Spark CSV/JSON readers), the
  * landing write is partitioned by `run_id` so each downstream step
  * prunes to exactly its run's slice.
  */
object Ingest {

  /** Normalize whatever columns the source had to the canonical
    * landing business columns: case-insensitive match, extras dropped,
    * missing → NULL, everything cast to string.
    */
  private def canonicalize(df: DataFrame): DataFrame = {
    val byCanonical: Map[String, String] = df.columns
      .flatMap(c => Schemas.headerAliases.get(c.trim.toLowerCase).map(_ -> c))
      .groupBy(_._1).map { case (k, vs) => k -> vs.head._2 }
    val cols = Schemas.businessColumns.map { canon =>
      byCanonical.get(canon)
        .map(src => trim(col(s"`$src`").cast("string")).as(canon))
        .getOrElse(lit(null).cast("string").as(canon))
    }
    df.select(col("raw_payload") +: cols: _*)
  }

  /** The landing tail every reader shares: the raw record re-serialized
    * into `raw_payload`, then canonicalized and stamped. */
  private def land(raw: DataFrame, runId: String, sourceType: String): DataFrame =
    stamp(canonicalize(raw.withColumn("raw_payload",
      to_json(struct(raw.columns.toIndexedSeq.map(col): _*)))), runId, sourceType)

  private def stamp(df: DataFrame, runId: String, sourceType: String): DataFrame =
    df.select(
      (lit(runId).as("run_id") +:
        Schemas.businessColumns.map(col) :+
        lit(sourceType).as("source_type") :+
        col("raw_payload") :+
        current_timestamp().as("loaded_at")): _*)

  /** CSV scan (S1/S2): header row, quoted fields, empty lines skipped
    * (Spark's reader does all three); `raw_payload` is the record
    * re-serialized as JSON of the raw (pre-canonicalization) fields.
    */
  def readCsv(spark: SparkSession, path: String, runId: String): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .csv(path)
    land(raw, runId, "CSV")
  }

  /** JSON scan (S3): array of flat objects; a single top-level object
    * is one record (Spark's multiLine reader accepts both shapes —
    * reference `pull.js:41` coerces object → 1-element list).
    */
  def readJson(spark: SparkSession, path: String, runId: String): DataFrame =
    land(spark.read.option("multiLine", "true").json(path), runId, "JSON")

  /** XML scan: one record per `rowTag` element (Spark 4's built-in
    * XML source — the spark-xml reader merged upstream; attributes
    * surface as `_attr` columns, simple child elements as fields).
    * Same stamp/canonicalize/raw_payload contract as CSV/JSON, so an
    * XML feed drops into the identical 4-step pipeline unchanged.
    */
  def readXml(spark: SparkSession, path: String, runId: String,
              rowTag: String = "record"): DataFrame =
    land(spark.read.format("xml").option("rowTag", rowTag).load(path), runId, "XML")

  /** One run's slice of a stage written as its own physical partition
    * directory (`<stage>/run_id=<id>/...`), the `run_id` column
    * restored on read (by [[readStage]], or by partition discovery
    * when the whole stage is read). Writing the leaf
    * directly (instead of partitionBy on the stage root) means
    * concurrent runs never share an output path — a shared root
    * write races on the job's `_temporary` staging dir, which is
    * exactly how overlapping runs corrupt each other. Overwrite of
    * the own leaf keeps retries idempotent.
    */
  def writeRunSlice(df: DataFrame, stageDir: String, runId: String,
                    subPartition: Option[(String, String)] = None): Unit = {
    val leaf = subPartition match {
      case Some((k, v)) => s"$stageDir/run_id=$runId/$k=$v"
      case None => s"$stageDir/run_id=$runId"
    }
    df.drop("run_id" +: subPartition.map(_._1).toSeq: _*)
      .write.options(NioLocalFileSystem.writeOptions).mode("overwrite").parquet(leaf)
  }

  /** Landing write (K1): per-run leaf dir so run-scoped reads (S4)
    * are partition pruning and concurrent runs don't share a write
    * path. The row count rides on the write job via an Observation —
    * no second pass.
    */
  def writeLanding(df: DataFrame, landingDir: String, runId: String): Long = {
    val obs = new org.apache.spark.sql.Observation()
    writeRunSlice(df.observe(obs, count(lit(1)).as("n")), landingDir, runId)
    obs.get("n").asInstanceOf[Long]
  }

  /** Run-scoped stage scan (S4): reads only this run's leaf directory
    * with the stage's declared schema (`Schemas.landing`/`staging`/
    * `transformed`) and restores `run_id` as a literal. Other runs'
    * slices are never listed, and no footer is read to infer the
    * schema, so the scan launches no Spark job of its own.
    */
  def readStage(spark: SparkSession, stageDir: String, runId: String,
                schema: StructType): DataFrame = {
    val data = schema.fields.filterNot(_.name == "run_id")
    spark.read.schema(StructType(data)).parquet(s"$stageDir/run_id=$runId")
      .select(schema.fields.toSeq.map(f =>
        if (f.name == "run_id") lit(runId).as("run_id") else col(f.name)): _*)
  }
}
