package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.codec.SchemaRegistry
import graft.pool.Pool

/** One workload: `setup` generates and stages every input from the seed
  * and opens the program's pools and sessions; the returned [[Loop]] then
  * runs closed-loop batches, one client, each batch handed over only after
  * the previous one committed.
  */
trait Workload {
  def name: String
  /** Warm-up batches run before the measured window and left out of it. */
  def warmup: Int
  /** Batches per cycle of background work; the measured window always
    * closes on a cycle boundary, so every run measures whole cycles.
    */
  def cycle: Int = 1
  /** Batches staged per measured second: about twice what HEAD consumes,
    * so the window does not run out of input unless the program gets much
    * faster (the run then reports it and measures a shorter window).
    */
  def stagedPerSecond: Double
  /** Generate and stage `batches` batches, open pools and sessions. */
  def setup(spark: SparkSession, dir: Path, seed: Long, batches: Int): Loop
}

trait Loop {
  /** Batches staged; the loop never runs more. */
  def capacity: Int
  /** Run batch `i` (land or hand it over, wait until it is committed);
    * returns the records offered.
    */
  def run(i: Int, t: Tracer): Long
  /** Output checks after `done` batches; returns the failures found. */
  def check(done: Int): Seq[String]
  /** Records the program committed to its pools. */
  def committed: Long
  /** The workload's pools; the first is the one its input is committed to. */
  def pools: Seq[Pool]
  /** Root directory of an index the workload keeps beside its pools. */
  def indexDir: Option[Path] = None
  /** Per-batch facts only the loop knows (batch -> name -> value). */
  val notes: mutable.Map[Int, mutable.Map[String, Double]] = mutable.Map.empty
  def note(i: Int, k: String, v: Double): Unit =
    notes.getOrElseUpdate(i, mutable.Map.empty)(k) = v
  def close(): Unit = ()
}

/** Schema-registry wrapper that counts the calls the codec makes. The
  * counters are JVM-wide because tasks work on deserialized copies of the
  * registry; with a local master they share the driver's JVM.
  */
final class CountingRegistry(inner: SchemaRegistry) extends SchemaRegistry {
  def schemaById(id: Int): String = {
    CountingRegistry.lookups.incrementAndGet()
    inner.schemaById(id)
  }
  def register(subject: String, schemaJson: String): Int = {
    CountingRegistry.registers.incrementAndGet()
    inner.register(subject, schemaJson)
  }
  def subjects(): Seq[String] = inner.subjects()
  def latest(subject: String): (Int, Int, String) = inner.latest(subject)
}

object CountingRegistry {
  val lookups = new AtomicLong()
  val registers = new AtomicLong()
}

object LocalFiles {
  /** Bytes of every regular file under `root`. */
  def du(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Regular files under `root` whose name ends with `suffix`. */
  def count(root: Path, suffix: String): Int =
    if (!Files.exists(root)) 0
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.count(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(suffix))
      finally s.close()
    }

  def rmrf(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** The single parquet data file Spark wrote into `dir`. */
  def onlyParquet(dir: Path): Path = {
    val s = Files.list(dir)
    try {
      val fs = s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(fs.size == 1, s"expected one parquet file in $dir, found ${fs.size}")
      fs.head
    } finally s.close()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
