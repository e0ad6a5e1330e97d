package graft.queries

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent,
  QueryStartedEvent, QueryTerminatedEvent}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Empty- and one-row-input sweep over EVERY SparkEntry query (r8 VERDICT
  * stretch #8): the fixture writers guard sizes and the kernels fuzz edge
  * paths at the unit level, but nothing previously executed the full 70+
  * query inventory against degenerate tables. Contract pinned here:
  *
  *   - a query either EXECUTES (collect succeeds — usually to an empty or
  *     tiny result), or
  *   - fails with a DOCUMENTED, intelligible error: AnalysisException /
  *     IllegalArgumentException with a non-empty message (e.g. the PQ
  *     family's "codebook must be non-empty" on an empty corpus — a PQ
  *     index over zero vectors is meaningless and must say so);
  *   - opaque executor-side crashes (NPE, ClassCast, ArrayIndexOOB —
  *     including wrapped inside a SparkException) are failures;
  *   - a gate that starts a streaming query is declared `drain = true`
  *     in the registry (Bench's warmup skips it on that flag), and starts
  *     it under the drain dial (`Drains.withDrainPartitions`).
  *
  * Both fixture dirs carry the exact testdata schemas (copied from
  * sf0.001), so this is the driver's table contract at cardinality 0/1.
  */
class DegenerateInputSpec extends AnyFunSuite with SparkTestSession {

  private val src = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private lazy val (emptyDir, oneDir) = {
    val root = Files.createTempDirectory("graft_degen").toFile
    val e = new java.io.File(root, "empty"); e.mkdirs()
    val o = new java.io.File(root, "one"); o.mkdirs()
    // events.ts has shipped as both INT64 TIMESTAMP(NANOS) and
    // TIMESTAMP(MICROS); under the legacy conf a nanos column copies as a
    // plain LONG ts, a micros column as TIMESTAMP_NTZ — Tables.events
    // normalizes BOTH layouts to the epoch-nanos-Long contract, so the
    // copies are consumable either way. Conf restored after the build:
    // SparkTestSession is one JVM-wide session, and leaving the legacy
    // conf set would contaminate later suites' reads.
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(nanosKey)
    spark.conf.set(nanosKey, "true")
    try tables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      df.limit(0).coalesce(1).write.parquet(s"${e.getPath}/$t.parquet")
      df.limit(1).coalesce(1).write.parquet(s"${o.getPath}/$t.parquet")
    } finally prior match {
      case Some(v) => spark.conf.set(nanosKey, v)
      case None => spark.conf.unset(nanosKey)
    }
    (e.getPath, o.getPath)
  }

  private def rootCause(t: Throwable): Throwable = {
    var c = t
    while (c.getCause != null && c.getCause != c) c = c.getCause
    c
  }

  /** Runs every gate on `dir`, and records which gates start a streaming
    * query: `onQueryStarted` fires before `start()` returns, so the gate
    * running at that moment is the one that started it. The same moment
    * shows whether the start ran under the drain dial: the test session
    * leaves AQE at Spark's default, and `Drains.withDrainPartitions` pins
    * it off. */
  private def sweep(dir: String, label: String): Unit = {
    val running = new AtomicReference("")
    val streamed = ConcurrentHashMap.newKeySet[String]()
    val undialed = ConcurrentHashMap.newKeySet[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = {
        streamed.add(running.get)
        if (spark.conf.get("spark.sql.adaptive.enabled") != "false")
          undialed.add(running.get)
      }
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val gates = graft.SparkEntry.gates.sortBy(_.name)
    val failures = try gates.flatMap {
      case Gate(name, fn, _, _) =>
        running.set(name)
        try { fn(spark, dir).collect(); None }
        catch {
          case e: Throwable =>
            val root = rootCause(e)
            val documented = (e.isInstanceOf[AnalysisException] ||
              e.isInstanceOf[IllegalArgumentException] ||
              root.isInstanceOf[AnalysisException] ||
              root.isInstanceOf[IllegalArgumentException]) &&
              Option(root.getMessage).exists(_.nonEmpty)
            if (documented) None
            else Some(s"$name [$label]: ${root.getClass.getName}: ${root.getMessage}")
        }
    } finally spark.streams.removeListener(listener)
    assert(failures.isEmpty, failures.mkString("\n"))
    // one-directional: a drain gate may maintain a view without a stream
    val undeclared = gates.filter(g => streamed.contains(g.name) && !g.drain).map(_.name)
    assert(undeclared.isEmpty,
      s"started a streaming query but not declared drain = true [$label]: " +
        undeclared.mkString(", "))
    assert(undialed.isEmpty,
      s"started a streaming query outside the drain dial [$label]: " +
        undialed.asScala.toSeq.sorted.mkString(", "))
  }

  test("every query survives an EMPTY copy of the testdata schema") {
    sweep(emptyDir, "empty")
  }

  test("every query survives a ONE-ROW copy of the testdata schema") {
    sweep(oneDir, "1-row")
  }
}
