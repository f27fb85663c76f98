package graft.app

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/**
 * The deployable app (reference entry point 1, `EffectiveProcessor.main`):
 * wires changelog sources -> RegistrationStage (FK join with class-update
 * retrigger) -> UnifiedAlarmRule -> effective-alarm sink, with the override
 * feedback loop (latch / ondelay / oneshot emissions and T8/T9 expiration
 * tombstones) appended back onto the overrides changelog — the same
 * topology the reference drives through Kafka topics
 * (`EffectiveProcessor.java:21-48`), here over pluggable storage paths.
 *
 * The main query reads three sources into one stateful operator,
 * [[UnifiedAlarmRule.run]], expiry timers included, which emits the sink's
 * flat tagged rows; the sink numbers the three outputs in one window
 * ([[numberOutputs]]), caches them, and writes the present outputs from
 * the cache concurrently.
 *
 * Sources/sinks are JSON-lines directories (works self-contained; swapping
 * the reads for `readStream.format("kafka")` + ConfluentFraming/AlarmAvro
 * is the Kafka deployment — the kafka connector jar is not on this
 * classpath so the file edge is the testable default).
 */
object AlarmProcessorApp {

  final case class Paths(root: String) {
    val classes = s"$root/classes"
    val instances = s"$root/instances"
    val activations = s"$root/activations"
    val overrides = s"$root/overrides"
    // FK-join stage hops (the reference's intermediate topics)
    val fkRouted = s"$root/fk-routed"
    val intermediateReg = s"$root/intermediate-registration"
    val effective = s"$root/effective-alarms"
    val notifications = s"$root/effective-notifications"
    val checkpoint = s"$root/checkpoint"
    def mkdirs(): Unit =
      Seq(classes, instances, activations, overrides, fkRouted,
        intermediateReg, effective, notifications)
        .foreach(p => new java.io.File(p).mkdirs())
  }

  /** The running app: registration stages + main chain. */
  final case class RunningApp(
      fkQuery: StreamingQuery,
      regQuery: StreamingQuery,
      mainQuery: StreamingQuery) {
    def stop(): Unit = { fkQuery.stop(); regQuery.stop(); mainQuery.stop() }
    def awaitAnyTermination(): Unit =
      mainQuery.sparkSession.streams.awaitAnyTermination()
  }

  val classSchema: StructType = StructType(Seq(
    StructField("seq", LongType),
    StructField("name", StringType),
    StructField("latchable", BooleanType),
    StructField("filterable", BooleanType),
    StructField("ondelayseconds", LongType),
    StructField("priority", StringType),
    StructField("tombstone", BooleanType)))

  val instanceSchema: StructType = StructType(Seq(
    StructField("seq", LongType),
    StructField("name", StringType),
    StructField("action", StringType),
    StructField("location", ArrayType(StringType)),
    StructField("tombstone", BooleanType)))

  val activationSchema: StructType = StructType(Seq(
    StructField("seq", LongType),
    StructField("name", StringType),
    StructField("union", StringType),
    StructField("tombstone", BooleanType)))

  val overrideSchema: StructType = StructType(Seq(
    StructField("seq", LongType),
    StructField("name", StringType),
    StructField("overrideType", StringType),
    StructField("oneshot", BooleanType),
    StructField("expiration", LongType),
    StructField("reason", StringType),
    StructField("tombstone", BooleanType)))

  import UnifiedAlarmRule._

  // Corrupt-record hygiene: a malformed JSON line parses as an all-null
  // row; without this filter the null seq violates the non-nullable
  // encoder field and kills the whole query (found by probe).
  private def wellFormed(df: DataFrame): DataFrame =
    df.filter(col("seq").isNotNull && col("name").isNotNull)

  /** Stage 1: instance changelog -> FK-routed membership records. */
  private def startFkQuery(spark: SparkSession, paths: Paths,
      trigger: Trigger): StreamingQuery = {
    import spark.implicits._
    val instances = wellFormed(
      spark.readStream.schema(instanceSchema).json(paths.instances))
      .select(col("seq"), col("name"), col("action"), col("location"),
        coalesce(col("tombstone"), lit(false)).as("tombstone"))
      .as[RegistrationStage.InstanceRec]
    RegistrationStage.fkRoute(instances).writeStream
      .outputMode("append").format("json")
      .option("path", paths.fkRouted)
      .option("checkpointLocation", s"${paths.checkpoint}/fk")
      .trigger(trigger)
      .start()
  }

  /** Stage 2: classes + routed instances -> enriched registrations. */
  private def startRegQuery(spark: SparkSession, paths: Paths,
      trigger: Trigger): StreamingQuery = {
    import spark.implicits._
    val classes = spark.readStream.schema(classSchema).json(paths.classes)
      .filter(col("name").isNotNull)
      .select(
        coalesce(col("seq"), lit(0L)).as("seq"),
        col("name").as("key"), lit(true).as("isClass"),
        col("latchable"), col("filterable"), col("ondelayseconds"), col("priority"),
        coalesce(col("tombstone"), lit(false)).as("classTombstone"),
        lit(null).cast("string").as("instName"),
        lit(null).cast("array<string>").as("location"),
        lit(false).as("instTombstone"),
        lit(true).as("emitDownstream"))
      .as[RegistrationStage.RegInput]
    val routed = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[RegistrationStage.RegInput].schema)
      .json(paths.fkRouted)
      .filter(col("key").isNotNull)
      .as[RegistrationStage.RegInput]
    RegistrationStage.enrich(classes.union(routed)).writeStream
      .outputMode("append").format("json")
      .option("path", paths.intermediateReg)
      .option("checkpointLocation", s"${paths.checkpoint}/reg")
      .trigger(trigger)
      .start()
  }

  /** Build the unified input union for the main chain. */
  private def unifiedInputs(spark: SparkSession, paths: Paths): Dataset[AlarmInput] = {
    import spark.implicits._

    // Registrations arrive pre-enriched from the registration stages (so
    // class updates retrigger members — J1 with KTable-FK semantics).
    val instances = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[AlarmInput].schema)
      .json(paths.intermediateReg)
      .filter(col("seq").isNotNull && col("name").isNotNull)
      .as[AlarmInput]

    val activations = wellFormed(spark.readStream.schema(activationSchema).json(paths.activations))
      .as[ActivationRow].map(_.toInput)

    val overrides = wellFormed(spark.readStream.schema(overrideSchema).json(paths.overrides))
      .filter(col("overrideType").isNotNull)
      .as[OverrideRow].map(_.toInput)

    instances.union(activations).union(overrides)
  }

  /** The sink's outputs; an [[UnifiedAlarmRule.OutputRow]]'s tag is its index here. */
  private final case class Output(path: Paths => String, format: String,
      columns: Seq[String], seqCol: String)

  private val outputs = Seq(
    Output(_.effective, "parquet", Seq("name", "state", "is_active"), "emit_seq"),
    // S3 multi-sink parity: the reference's EffectiveStateRule also
    // publishes the notification projection to its own topic.
    Output(_.notifications, "parquet", Seq("name", "state", "shelved", "disabled"), "emit_seq"),
    Output(_.overrides, "json",
      Seq("name", "overrideType", "oneshot", "expiration", "reason", "tombstone"), "seq"))

  /**
   * The sink's numbering step: the chain's flat rows plus `seq`, numbered
   * per tag in `(name, overrideType, emission order)` by one window.
   *
   * Seq contract (one domain for every writer of these changelogs):
   * seq = epoch_ms * 1e6 + dense per-batch row index. The row index is a
   * row_number over a deterministic key order — dense and < 5e8 (the 500 ms
   * trigger's base increment), so emission seqs are totally ordered across
   * batches and always outrank seqs emitted in earlier batches.
   * monotonically_increasing_id is NOT usable as the index: its
   * partitionId*2^33 component dwarfs the base increment and inverts
   * cross-batch order. It serves only as the emission-order key, taken
   * before the window's shuffle, where it follows the chain's output order
   * within an alarm. Emission batches are small control-plane record sets,
   * so the per-tag window is not a scale concern (the data plane never
   * passes through this sink).
   */
  def numberOutputs(rows: Dataset[OutputRow], base: Long): DataFrame =
    rows.withColumn("ord", monotonically_increasing_id())
      .withColumn("seq", lit(base) + row_number().over(
        Window.partitionBy("tag").orderBy("name", "overrideType", "ord")).cast("long"))
      .drop("ord")

  /** Start the app: two registration stages + the unified chain. */
  def start(spark: SparkSession, paths: Paths,
      trigger: Trigger = Trigger.ProcessingTime("500 milliseconds")): RunningApp = {
    import spark.implicits._
    paths.mkdirs()

    val fkQ = startFkQuery(spark, paths, trigger)
    val regQ = startRegQuery(spark, paths, trigger)

    val mainQ = UnifiedAlarmRule.run(unifiedInputs(spark, paths)).writeStream
      .outputMode("append")
      .option("checkpointLocation", s"${paths.checkpoint}/main")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[OutputRow], _: Long) =>
        // Distributed routing sink: no driver-side collect of rows. The
        // chain's outputs go to their "topics" (paths); emissions re-enter
        // the overrides source on the next micro-batch = the feedback loop.
        // One action runs the chain and fills the cache; the present
        // outputs are then written from the cache at once, each without a
        // further shuffle, on threads that carry the batch's job
        // properties ([[graft.DriverActions.runAll]]).
        val rows = numberOutputs(batch, System.currentTimeMillis() * 1000000L).persist()
        try {
          val present = rows.select("tag").as[Int]
            .mapPartitions(_.toSet.iterator).collect().toSet
          graft.DriverActions.runAll(spark.sparkContext,
            for ((o, tag) <- outputs.zipWithIndex if present(tag)) yield () =>
              rows.filter(col("tag") === tag)
                .select(o.columns.map(col) :+ col("seq").as(o.seqCol): _*)
                .write.mode("append").format(o.format).save(o.path(paths)))
        } finally rows.unpersist()
      }
      .start()
    RunningApp(fkQ, regQ, mainQ)
  }

  // Row adapters (explicit case classes keep the stream schemas stable).
  final case class ActivationRow(
      seq: Long, name: String, union: Option[String], tombstone: Option[Boolean]) {
    def toInput: AlarmInput = AlarmInput(
      seq, name, Kind.ActivationK,
      activation = union.map(u => graft.model.Activation(u)),
      tombstone = tombstone.getOrElse(false))
  }

  final case class OverrideRow(
      seq: Long, name: String, overrideType: String,
      oneshot: Option[Boolean], expiration: Option[Long], reason: Option[String],
      tombstone: Option[Boolean]) {
    def toInput: AlarmInput = AlarmInput(
      seq, name, Kind.Override,
      overrideType = Some(overrideType),
      overrideValue =
        if (tombstone.getOrElse(false)) None
        else Some(graft.model.AlarmOverride(overrideType, None, oneshot, expiration, reason)),
      tombstone = tombstone.getOrElse(false))
  }
}
