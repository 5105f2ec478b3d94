package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Task metrics of the Spark work one span caused. */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var outputB = 0L

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleWriteB += o.shuffleWriteB; spillB += o.spillB; outputB += o.outputB
  }
}

/** One timed call into a layer. `gcS` is JVM collector time during the span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
    gcS: Double, work: SparkWork) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer, plus a SparkListener
  * that files every task under the span whose job group was set when its
  * job started (each span sets a job group of its own; Spark hands it on
  * to the threads that run broadcast and subquery jobs). Spans stay in
  * memory; [[write]] puts them out once the run is over.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val work = new ConcurrentHashMap[String, SparkWork]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val endedJobs = ConcurrentHashMap.newKeySet[Int]()
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, String)]
  private var nextId = 0
  sc.addSparkListener(this)

  private def workOf(group: String): SparkWork = work.computeIfAbsent(group, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith("span-")) {
      workOf(g).synchronized { workOf(g).jobs += 1 }
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = endedJobs.add(e.jobId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.get(e.stageInfo.stageId)
    if (g != null) { val w = workOf(g); w.synchronized { w.stages += 1 } }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val w = workOf(g)
      w.synchronized {
        w.tasks += 1
        w.cpuNs += m.executorCpuTime
        w.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        w.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        w.outputB += m.outputMetrics.bytesWritten
      }
    }
  }

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Time `f` as a span named `name`, nested under the span now open. */
  def span[A](name: String)(f: => A): A = {
    val id = nextId; nextId += 1
    val group = s"span-$id"
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, group, name) :: stack
    sc.setJobGroup(group, name)
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      val gc1 = gcSeconds()
      stack = stack.tail
      stack.headOption match {
        case Some((_, pg, pname)) => sc.setJobGroup(pg, pname)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, name, parent, t0, t1, gc1 - gc0, null)
    }
  }

  /** Block until the listener has seen every job of every closed span,
    * then attach the Spark work to the spans.
    */
  def settle(): Unit = {
    val tracker = sc.statusTracker
    val deadline = System.nanoTime() + 60L * 1000000000L
    for (i <- spans.indices if spans(i).work == null) {
      val group = s"span-${spans(i).id}"
      val jobs = tracker.getJobIdsForGroup(group)
      while (!jobs.forall(endedJobs.contains) && System.nanoTime() < deadline) Thread.sleep(5)
      require(jobs.forall(endedJobs.contains), s"listener never saw the end of the jobs of $group")
      spans(i) = spans(i).copy(work = Option(work.get(group)).getOrElse(new SparkWork))
    }
  }

  def closed: Seq[Span] = spans.toSeq

  /** Self time: a span's duration minus the time its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Spark work of a span and all its descendants. */
  def workUnder(s: Span): SparkWork = {
    val out = new SparkWork
    def walk(x: Span): Unit = {
      if (x.work != null) out.add(x.work)
      spans.iterator.filter(_.parent == x.id).foreach(walk)
    }
    walk(s)
    out
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.iterator.map { s =>
      val w = Option(s.work).getOrElse(new SparkWork)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"self_s":${selfSeconds(s)},"gc_s":${s.gcS},"jobs":${w.jobs},""" +
        s""""stages":${w.stages},"tasks":${w.tasks},"cpu_s":${w.cpuNs / 1e9},""" +
        s""""shuffle_write_b":${w.shuffleWriteB},"spill_b":${w.spillB},"output_b":${w.outputB}}"""
    }
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }

  def stop(): Unit = sc.removeSparkListener(this)
}
