package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs one block of code starts, as seen by a listener. */
object JobLog {

  /** One job: its stages' names (`<action> at <File>.scala:<line>`) and
    * the names of the RDDs they compute.
    */
  final case class Job(stages: Seq[String], rdds: Seq[String]) {
    def is(action: String): Boolean = stages.exists(_.startsWith(s"$action at "))
    /** A job over the workbook scan, which parallelizes the listed files. */
    def scansWorkbooks: Boolean = rdds.contains("ParallelCollectionRDD")
    /** A job whose lineage holds the in-memory copy of `table`. */
    def readsCopy(table: String): Boolean = rdds.contains(s"In-memory table $table")
  }

  /** Runs `body` and returns its value with the jobs it started. */
  def of[A](sc: SparkContext)(body: => A): (A, Seq[Job]) = {
    val jobs = ArrayBuffer.empty[Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += Job(e.stageInfos.map(_.name), e.stageInfos.flatMap(_.rddInfos.map(_.name)))
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      ListenerBusDrain(sc)
      (a, jobs.synchronized(jobs.toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
