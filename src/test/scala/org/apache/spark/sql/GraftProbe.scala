package org.apache.spark.sql

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Test-side doorway to the session internals that the leak and job
  * specs read: the session's cache entries, and a listener that sees
  * each job's stages (`StageInfo.shuffleDepId` and the listener bus's
  * drain are `private[spark]`).
  */
object GraftProbe {

  /** Entries in the session's CacheManager (`Dataset.persist`/`cache`). */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries

  /** What the jobs of one job group ran: per job (in start order), its
    * stage ids, which of them were submitted (the rest Spark skipped,
    * their shuffle output already written) and which of the submitted
    * ones are shuffle-map stages. */
  final case class Job(stages: Seq[Int], submitted: Set[Int],
      shuffleMap: Set[Int]) {
    def skipped: Int = stages.count(s => !submitted(s))
  }

  /** Run `body` in a fresh job group and report the jobs it ran. */
  def jobs[T](spark: SparkSession, group: String)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val starts = scala.collection.mutable.ArrayBuffer[(Int, Seq[Int])]()
    val submitted = scala.collection.mutable.Set[Int]()
    val shuffleMap = scala.collection.mutable.Set[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group))
          starts.synchronized { starts += (e.jobId -> e.stageIds) }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        starts.synchronized {
          submitted += e.stageInfo.stageId
          if (e.stageInfo.shuffleDepId.isDefined)
            shuffleMap += e.stageInfo.stageId
        }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      starts.synchronized {
        (out, starts.sortBy(_._1).toSeq.map { case (_, st) =>
          Job(st, st.filter(submitted).toSet, st.filter(shuffleMap).toSet)
        })
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
