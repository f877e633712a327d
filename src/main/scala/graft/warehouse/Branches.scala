package graft.warehouse

/** Runs the independent branches of one DAG stage concurrently on the
  * caller's SparkSession — one fresh driver thread per branch — and returns
  * their results in declared order. Spark's scheduler queues the branches'
  * jobs onto the cores, so the fan-out width is simply the branch count
  * (14 at most: the dimension checks). Shared by [[Pipeline]] and
  * [[Aggregates]]; the stage barrier around each call is the caller's.
  *
  * Three properties the DAG relies on:
  *  - Job tags carry over. A fresh thread inherits the caller's Spark
  *    local properties (job group, description, `spark.scheduler.pool`);
  *    a long-lived pool's threads would keep whatever their creator had.
  *  - Failures wait for siblings. Every branch is joined before anything
  *    is rethrown, so no branch is still writing staging when the stage
  *    fails and a `fromStage` resume begins. Of several failures, the
  *    first in declared order is thrown.
  *  - Results keep declared order, so a gate's message lists its
  *    violations exactly as a sequential run would.
  */
private[warehouse] object Branches {

  def all[A](branches: Seq[() => A]): Seq[A] = {
    val results = new Array[Either[Throwable, A]](branches.size)
    val threads = branches.zipWithIndex.map { case (branch, i) =>
      val t = new Thread(() =>
        results(i) = try Right(branch()) catch { case e: Throwable => Left(e) },
        s"warehouse-branch-$i")
      t.start()
      t
    }
    threads.foreach(_.join()) // join() publishes each thread's result slot
    results.toSeq.map(_.fold(e => throw e, identity))
  }
}
