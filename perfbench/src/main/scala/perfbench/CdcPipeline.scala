package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.codec.{ConnectJson, InMemoryRegistry, WireCodec}
import graft.etl.{DenormRule, Etl, StatelessRule, Transform}
import graft.pool.{Envelope, Pool}
import graft.streaming.{FileTopicSource, StreamSync}

/** The README's Debezium flow, `from-kafka` then `etl` then `to-kafka`:
  * Connect-JSON CDC events for `Orders` and `Statuses` land on their topics
  * (a staged parquet file moved into the directory a [[FileTopicSource]]
  * watches); `StreamSync.fromTopics` decodes them with the Connect envelope
  * decoder and commits them to the input pool. The harness then guards the
  * next batch with `Pool.nextOffset`, transforms with `Etl.run` (one
  * denormalizing join rule and one stateless rule) and drains with
  * `StreamSync.toTopicDistributed` through the Avro producer encoder into a
  * `noop` sink.
  *
  * Statuses lag their orders by one batch, so every batch's new orders wait
  * one batch in the anti-join before their partner lands; statuses of
  * updated orders (and batch 0's statuses, which precede the stream) never
  * match and stay unprocessed for the whole run. Small, latency-bound
  * batches over pools that keep growing.
  */
object CdcPipeline extends Workload {
  val name = "cdc_pipeline"
  val warmup = 3
  /** Events per topic per batch. */
  val perTopic = 2000
  /** Every `updateEvery`-th order is an update ('u'), the rest creates. */
  val updateEvery = 10
  val stagedPerSecond = 1.0

  val valueSchema: StructType = StructType.fromDDL(
    "op string, ts_ms bigint, after struct<o_orderkey: bigint, o_custkey: bigint, " +
      "o_totalprice: double, status_orderkey: bigint, status: string>")

  val transform: Transform = Transform(
    inputTopics = Seq("Orders", "Statuses"),
    outputTopic = "Enriched",
    rules = Seq(
      DenormRule(
        leftTopic = "Orders", rightTopic = "Statuses",
        joinOn = "left.value.after.o_orderkey = right.value.after.status_orderkey",
        where = Some("in.value.op = 'c'"),
        outKey = "named_struct('id', left.value.after.o_orderkey)",
        outValue = "named_struct('id', left.value.after.o_orderkey, " +
          "'status', right.value.after.status, 'total', left.value.after.o_totalprice)"),
      StatelessRule(
        inTopic = "Orders",
        where = Some("in.value.op = 'u'"),
        outKey = "named_struct('id', in.value.after.o_orderkey)",
        outValue = "named_struct('id', in.value.after.o_orderkey, " +
          "'status', cast(null as string), 'total', in.value.after.o_totalprice)")))

  private val updates = perTopic / updateEvery
  /** (records, markers) `Etl.run` must return for batch `b`: the batch's
    * updates, plus from batch 1 on the previous batch's creates, now joined
    * with their statuses (a marker on each side).
    */
  def expected(b: Int): (Long, Long) =
    if (b == 0) (updates.toLong, updates.toLong)
    else (perTopic.toLong, (updates + 2 * (perTopic - updates)).toLong)

  /** Wire rows (topic, partition, offset, key, value, b) for batches
    * [0, batches): order ids equal their offsets; batch b carries the
    * statuses of batch b-1's orders.
    */
  def wire(spark: SparkSession, seed: Long, batches: Int): DataFrame = {
    val n = batches.toLong * perTopic
    def h(k: Int): Column = pmod(xxhash64(lit(seed), col("id"), lit(k)), lit(Long.MaxValue))
    val nullL = lit(null).cast("bigint")
    val b = (col("id") / perTopic).cast("int")
    val orders = spark.range(0, n).select(lit("Orders").as("topic"), col("id").as("offset"),
      struct(
        when(col("id") % updateEvery === 0, "u").otherwise("c").as("op"),
        (lit(1700000000000L) + col("id")).as("ts_ms"),
        struct(col("id").as("o_orderkey"), (h(1) % 100000).as("o_custkey"),
          ((h(2) % 10000000) / 100.0).as("o_totalprice"), nullL.as("status_orderkey"),
          lit(null).cast("string").as("status")).as("after")).as("v"),
      col("id").as("key_id"), b.as("b"))
    val statuses = spark.range(0, n).select(lit("Statuses").as("topic"), col("id").as("offset"),
      struct(
        lit("c").as("op"),
        (lit(1700000000000L) + col("id")).as("ts_ms"),
        struct(nullL.as("o_orderkey"), nullL.as("o_custkey"),
          lit(null).cast("double").as("o_totalprice"),
          (col("id") - perTopic).as("status_orderkey"),
          element_at(array(lit("F"), lit("O"), lit("P")),
            (h(3) % 3 + 1).cast("int")).as("status")).as("after")).as("v"),
      (col("id") - perTopic).as("key_id"), b.as("b"))
    orders.unionByName(statuses).select(col("topic"), lit(0L).as("partition"),
      col("offset"), col("key_id").cast("string").cast("binary").as("key"),
      ConnectJson.encode(col("v"), valueSchema).cast("binary").as("value"), col("b"))
  }

  def setup(spark: SparkSession, dir: Path, seed: Long, capacity: Int): Loop = {
    val staging = dir.resolve("staging")
    val source = dir.resolve("topics")
    Files.createDirectories(source)
    wire(spark, seed, capacity).repartition(col("b"))
      .sortWithinPartitions("topic", "offset")
      .write.partitionBy("b").parquet(staging.toString)
    val files = (0 until capacity).map(b => LocalFiles.onlyParquet(staging.resolve(s"b=$b")))
    val decodeBytes = spark.read.parquet(staging.toString)
      .groupBy("b").agg(sum(length(col("value")))).collect()
      .map(r => r.getInt(0) -> r.getLong(1).toDouble).toMap
    val input = Pool.create(spark, dir.resolve("input").toString)
    val query = StreamSync.fromTopics(spark, new FileTopicSource(source.toString),
      transform.inputTopics, input, WireCodec.connectEnvelopeDecoder(valueSchema),
      checkpoint = dir.resolve("checkpoint").toString, interval = "0 seconds")
    new CdcLoop(spark, files, decodeBytes, source, input,
      Pool.create(spark, dir.resolve("output").toString), query)
  }

  private final class CdcLoop(spark: SparkSession, files: Seq[Path],
      decodeBytes: Map[Int, Double], source: Path, input: Pool, output: Pool,
      query: StreamingQuery) extends Loop {
    val capacity = files.size
    def pools = Seq(input, output)
    private val registry = new CountingRegistry(new InMemoryRegistry)
    private val encode = WireCodec.avroProducerEncoder(registry) _
    private val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
    private var drained = 0L
    private var lastBatchId = -1L
    private val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]

    /** Input rows the stream committed since the last call, from the
      * query's own progress reports (an idle trigger reports the id of the
      * batch it would run next, so only reports with rows count).
      */
    private def rowsSinceLast(): Long = {
      val fresh = query.recentProgress.filter(p => p.numInputRows > 0 && p.batchId > lastBatchId)
      fresh.lastOption.foreach(p => lastBatchId = p.batchId)
      fresh.map(_.numInputRows).sum
    }

    def run(i: Int, t: Tracer): Long = {
      // replay guard: land the batch only if the pool does not hold it yet
      val next = t.call("pool.nextOffset") {
        transform.inputTopics.map(tp => input.nextOffset(tp))
      }
      val first = i.toLong * perTopic
      if (next.exists(o => o != Pool.KafkaOffsetEarliest && o != first))
        mismatches += s"batch $i: input pool next offsets ${next.mkString(",")}, expected $first"
      t.call("topic.land")(Files.move(files(i), source.resolve(f"batch-$i%06d.parquet")))
      // processAllAvailable can return on a trigger that listed the
      // directory just before the file landed; wait for the batch's rows
      t.call("stream.processAllAvailable") {
        var rows = 0L
        while (rows < 2L * perTopic) { query.processAllAvailable(); rows += rowsSinceLast() }
      }
      val (records, markers) = t.call("etl.run")(Etl.run(spark, input, output, transform))
      val produced = t.call("pool.drain")(StreamSync.toTopicDistributed(
        output, transform.outputTopic, drained, encode, noop))
      drained += produced
      if ((records, markers) != expected(i))
        mismatches += s"batch $i: Etl.run returned ${(records, markers)}, expected ${expected(i)}"
      note(i, "etl.records_out", records.toDouble)
      note(i, "etl.markers_out", markers.toDouble)
      note(i, "codec.decode_bytes", decodeBytes(i))
      note(i, "new_input_rows", 2.0 * perTopic)
      2L * perTopic
    }

    def committed: Long = input.read().count()

    def check(done: Int): Seq[String] = {
      val (wantRecords, wantMarkers) = (0 until done).map(expected)
        .foldLeft((0L, 0L)) { case ((a, b), (r, m)) => (a + r, b + m) }
      val out = output.read()
      val records = Envelope.records(out).count()
      val markers = Envelope.markers(out).count()
      val again = Etl.run(spark, input, output, transform)
      val total = done.toLong * perTopic
      val offsets = input.read().groupBy(col("kafka.topic")).agg(count(lit(1)),
        countDistinct(col("kafka.offset")), min(col("kafka.offset")), max(col("kafka.offset")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      val perTopicChecks = transform.inputTopics.flatMap { tp =>
        Seq(
          (offsets.get(tp) == Some((total, total, 0L, total - 1))) ->
            s"input pool topic $tp holds ${offsets.get(tp)}, expected $total contiguous offsets from 0",
          (input.nextOffset(tp) == total) -> s"$tp nextOffset ${input.nextOffset(tp)} != $total")
      }
      mismatches.toSeq ++ (perTopicChecks ++ Seq(
        (records == wantRecords) -> s"output holds $records enriched records, expected $wantRecords",
        (markers == wantMarkers) -> s"output holds $markers done markers, expected $wantMarkers",
        (again == ((0L, 0L))) -> s"a repeated Etl.run returned $again, expected (0,0)",
        (drained == records) -> s"drained $drained records, committed $records",
        (committed == 2L * total) -> s"input pool holds $committed events"
      )).collect { case (false, msg) => msg }
    }

    override def close(): Unit = { query.stop(); query.awaitTermination(60000) }
  }
}
