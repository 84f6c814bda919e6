package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.BusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent,
  QueryStartedEvent, QueryTerminatedEvent}

/** Monotone counters fed by the listener buses. */
final class Counters {
  private val m = mutable.HashMap.empty[String, Double]
  def add(k: String, d: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + d }
  def snapshot(): Map[String, Double] = synchronized { m.toMap }
}

/** Spark engine counters: jobs, stages, tasks and task metrics. */
final class EngineListener(c: Counters) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = c.add("spark.jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c.add("spark.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c.add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      c.add("spark.run_ms", m.executorRunTime.toDouble)
      c.add("spark.cpu_ns", m.executorCpuTime.toDouble)
      c.add("spark.gc_ms", m.jvmGCTime.toDouble)
      c.add("spark.shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("spark.spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      c.add("spark.input_b", m.inputMetrics.bytesRead.toDouble)
      c.add("spark.output_b", m.outputMetrics.bytesWritten.toDouble)
    }
  }
}

/** Structured Streaming progress counters (per micro-batch durations). */
final class StreamListener(c: Counters) extends StreamingQueryListener {
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    def g(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
    c.add("streaming.batches", 1)
    c.add("streaming.latest_offset_ms", g("latestOffset"))
    c.add("streaming.commit_ms", g("walCommit") + g("commitOffsets"))
    c.add("streaming.add_batch_ms", g("addBatch"))
    c.add("streaming.trigger_ms", g("triggerExecution"))
  }
}

/** One traced interval: a call into a layer, made from the harness. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans live in memory and are written out once, at
  * the end of the run. Listeners are attached only while a traced op
  * runs, so untraced ops pay nothing; every span boundary drains the
  * listener bus and snapshots the counters, so a span carries exactly
  * the engine and streaming work it caused.
  */
final class Tracer(spark: SparkSession) {
  private val counters = new Counters
  private val engine = new EngineListener(counters)
  private val stream = new StreamListener(counters)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var opId = -1
  private var on = false

  def beginOp(id: Int, traced: Boolean): Unit = {
    opId = id
    if (traced) {
      spark.sparkContext.addSparkListener(engine)
      spark.streams.addListener(stream)
      on = true
    }
  }

  def endOp(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(engine)
    spark.streams.removeListener(stream)
    on = false
  }

  private def drain(): Unit = BusShim.drain(spark.sparkContext)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      drain()
      val before = counters.snapshot()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        drain()
        val after = counters.snapshot()
        stack = stack.tail
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        spans += Span(id, parent, opId, name, t0, t1, delta)
      }
    }

  /** Spans of one op with the given name. */
  private def of(op: Int, name: String): Seq[Span] =
    spans.iterator.filter(s => s.op == op && s.name == name).toSeq

  def seconds(op: Int, name: String): Double = of(op, name).map(_.seconds).sum

  def count(op: Int, name: String, counter: String): Double =
    of(op, name).map(_.counters.getOrElse(counter, 0.0)).sum

  /** Write every span as one JSON line. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val cs = s.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + Json.num(v) }.mkString(",")
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counters":{$cs}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
}

/** Progress lines on stderr, stamped with seconds since launch. */
object Log {
  @volatile var launch: Double = epochS()
  def epochS(): Double = {
    val n = java.time.Instant.now()
    n.getEpochSecond + n.getNano / 1e9
  }
  def apply(msg: String): Unit =
    System.err.println(f"[graftbench +${epochS() - launch}%.2fs] $msg")
}
