package graft.ops

/** Overlap INDEPENDENT Spark actions from driver threads (the guide's
  * §2.6 discipline): Spark's scheduler happily runs several jobs at once
  * inside one application — actions are only sequential because driver
  * code calls them sequentially. An index build's quantizer-training
  * aggregates, metadata writes, and drift baseline are mutually
  * independent jobs; running them back-to-back leaves the cluster idle
  * through each job's tail. Plain threads (no shared pool): callers pass
  * a handful of coarse actions, and a bounded per-call thread set cannot
  * leak across sessions. Exceptions propagate — the FIRST failure (in
  * argument order) rethrows after every branch has settled, so a failed
  * write never races a half-published sibling. */
object Par {

  /** Run every thunk concurrently, return results in argument order. */
  def run[A](fs: (() => A)*): Seq[A] = {
    require(fs.nonEmpty, "Par.run needs at least one thunk")
    if (fs.lengthCompare(1) == 0) Seq(fs.head())
    else {
      val results = new Array[Either[Throwable, A]](fs.length)
      val threads = fs.zipWithIndex.map { case (f, i) =>
        val t = new Thread(() => {
          results(i) =
            try Right(f())
            catch { case e: Throwable => Left(e) }
        }, s"graft-par-$i")
        t.setDaemon(true)
        t.start()
        t
      }
      threads.foreach(_.join())
      results.collectFirst { case Left(e) => e }.foreach(e => throw e)
      results.toSeq.map(_.toOption.get)
    }
  }

  /** Two-result convenience with distinct types. */
  def run2[A, B](fa: () => A, fb: () => B): (A, B) = {
    val r = run[Any](() => fa(), () => fb())
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
