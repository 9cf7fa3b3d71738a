package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one benchmark run share `runId`;
  * `parent` is the enclosing span on the same thread (0 = root). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    runId: String, startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** In-memory span recorder. When `on` is false, `span` only runs its body,
  * so an untraced run pays nothing but a field read. */
final class Tracer(val runId: String, val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized { spans += Span(id, parent, layer, name, runId, t0, t1) }
      }
    }

  def all: Vector[Span] = spans.synchronized(spans.toVector)

  /** Seconds per layer not covered by a child span. Children run on their
    * parent's thread and never overlap, so self = duration − Σ children. */
  def selfSeconds: Map[String, Double] = {
    val s = all
    val childNs = s.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ns).sum }
    s.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(x => x.ns - childNs.getOrElse(x.id, 0L)).sum / 1e9
    }
  }
}

/** Spark's own job/stage/task counters plus the exchange count of every
  * final (post-AQE) physical plan, collected from outside the program. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val taskMs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val output = new AtomicLong
  private val spill = new AtomicLong
  private val exchanges = new AtomicLong
  private val taskDurMs = mutable.ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    taskDurMs.synchronized { taskDurMs += e.taskInfo.duration }
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      output.addAndGet(m.outputMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    exchanges.addAndGet(Counters.exchanges(qe.executedPlan)); ()
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def read(): Counters.Reading = Counters.Reading(jobs.get, stages.get, tasks.get,
    taskMs.get, cpuNs.get, shuffleWrite.get, output.get, spill.get, exchanges.get,
    taskDurMs.synchronized(taskDurMs.length))

  def taskDurationsSince(from: Int): Vector[Long] =
    taskDurMs.synchronized(taskDurMs.drop(from).toVector)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Counters {
  final case class Reading(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
      cpuNs: Long, shuffleWrite: Long, output: Long, spill: Long, exchanges: Long,
      nTaskDurations: Int)

  /** Shuffle and broadcast exchanges in a final plan, subqueries included.
    * AQE wraps the plan; each query stage holds the exchange it ran. */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case _ =>
      val self = p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1L
        case _ => 0L
      }
      self + p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}
