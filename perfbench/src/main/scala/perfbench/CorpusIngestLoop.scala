package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pool.Pool
import graft.streaming.CorpusIngestSession

/** Continuous corpus ingest: a `CorpusIngestSession` with the exact Bloom
  * gate, the near-duplicate gate probing a signature index, leveled pool
  * compaction and index folds, fed seeded document batches.
  *
  * Every batch after the first carries exact copies and near copies of
  * documents that already landed. A document opens with its header token
  * repeated three times; a near copy repeats it once more, which changes
  * the content fingerprint but keeps the 3-shingle set, so the near gate
  * must drop it on every seed (a near copy with edited tokens would slip
  * through MinHash banding with small but nonzero probability, and the
  * kept-count check would then depend on the seed). The ops layer does the
  * CPU-heavy work; there is no codec, ETL or streaming.
  */
object CorpusIngestLoop extends Workload {
  val name = "corpus_ingest"
  val warmup = 1
  /** Documents per batch, and the exact and near copies among them. */
  val batchDocs = 500
  val exactCopies = 50
  val nearCopies = 50
  /** Tokens per document and the vocabulary they are drawn from. */
  val tokens = 200
  val vocabulary = 20000
  /** The session compacts the pool and folds the index every `cycle`
    * batches.
    */
  override val cycle = 3
  val stagedPerSecond = 0.5

  private val fresh = batchDocs - exactCopies - nearCopies
  /** Fresh documents in batch b (batch 0 is all fresh). */
  def freshIn(b: Int): Int = if (b == 0) batchDocs else fresh

  /** The text of fresh document `g`: a header token three times, then
    * `tokens - 3` tokens, each a hash of (seed, g, position).
    */
  private def text(seed: Long, g: Column): Column = {
    def tok(p: Column) = concat(lit("w"),
      pmod(xxhash64(lit(seed), g, p), lit(vocabulary.toLong)).cast("string"))
    val head = tok(lit(-1))
    concat_ws(" ", head, head, head,
      concat_ws(" ", transform(sequence(lit(0), lit(tokens - 4)), p => tok(p))))
  }

  /** Rows (b, doc_id, text) of batches [0, batches). Copies draw their
    * source among the fresh documents of earlier batches.
    */
  def docs(spark: SparkSession, seed: Long, batches: Int): DataFrame = {
    val first = spark.range(0, batchDocs).select(lit(0).as("b"), col("id").as("i"),
      col("id").as("g"), lit(0).as("kind"))
    val rest = spark.range(batchDocs, batches.toLong * batchDocs).select(
      (col("id") / batchDocs).cast("int").as("b"), (col("id") % batchDocs).as("i"))
      .select(col("b"), col("i"),
        when(col("i") < fresh, lit(batchDocs.toLong) + (col("b") - 1) * fresh + col("i"))
          .otherwise(pmod(xxhash64(lit(seed), col("b"), col("i"), lit("src")),
            lit(batchDocs.toLong) + (col("b") - 1) * fresh)).as("g"),
        when(col("i") < fresh, 0).when(col("i") < fresh + exactCopies, 1).otherwise(2)
          .as("kind"))
    first.unionByName(rest).select(col("b"),
      (col("b").cast("long") * 1000000L + col("i")).as("doc_id"),
      when(col("kind") === 2,
        concat(split(text(seed, col("g")), " ").getItem(0), lit(" "), text(seed, col("g"))))
        .otherwise(text(seed, col("g"))).as("text"))
  }

  def setup(spark: SparkSession, dir: Path, seed: Long, capacity: Int): Loop = {
    val staging = dir.resolve("staging")
    docs(spark, seed, capacity).repartition(col("b")).write.partitionBy("b")
      .parquet(staging.toString)
    val frames = (0 until capacity).map(b =>
      spark.read.parquet(staging.resolve(s"b=$b").toString))
    val pool = Pool.create(spark, dir.resolve("corpus").toString)
    val index = dir.resolve("sigindex")
    val session = new CorpusIngestSession(pool, "doc_id", "text", near = true,
      sigIndexPath = Some(index.toString), compactEvery = cycle, indexFoldEvery = cycle)
    new IngestLoop(spark, frames, pool, index, session)
  }

  private final class IngestLoop(spark: SparkSession, frames: Seq[DataFrame],
      pool: Pool, index: Path, session: CorpusIngestSession) extends Loop {
    val capacity = frames.size
    def pools = Seq(pool)
    override def indexDir: Option[Path] = Some(index)
    private var kept = 0L
    private var wantKept = 0L
    private val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]

    def run(i: Int, t: Tracer): Long = {
      val appended = t.call("session.ingest")(session.ingest(frames(i)))
      kept += appended
      wantKept += freshIn(i)
      if (appended != freshIn(i))
        mismatches += s"batch $i kept $appended documents, ${freshIn(i)} were fresh"
      note(i, "ops.kept_ratio", appended.toDouble / batchDocs)
      // the session compacts after every `cycle`-th appending batch
      note(i, "compaction", if ((i + 1) % cycle == 0) 1.0 else 0.0)
      batchDocs
    }

    def committed: Long = kept

    def check(done: Int): Seq[String] = {
      val rows = pool.read().agg(count(lit(1)), countDistinct(md5(col("value.text")))).head()
      // compaction leaves the folded segments on disk for vacuum, which an
      // operator schedules; run it, then the pool must check clean
      pool.vacuum()
      val fsck = pool.fsck()
      mismatches.toSeq ++ Seq(
        (kept == wantKept) -> s"kept $kept documents, generated $wantKept fresh",
        (rows.getLong(0) == wantKept) -> s"pool holds ${rows.getLong(0)} rows, expected $wantKept",
        (rows.getLong(1) == rows.getLong(0)) ->
          s"${rows.getLong(0) - rows.getLong(1)} kept rows share a fingerprint",
        fsck.clean -> s"fsck is not clean: $fsck"
      ).collect { case (false, msg) => msg }
    }
  }
}
