package graft.core

/** Overlap INDEPENDENT driver-blocking Spark actions (optimization guide
  * §2.6): actions are only sequential because driver code calls them
  * sequentially — submitting independent jobs from separate threads lets
  * the scheduler backfill one job's straggler tail with the next job's
  * tasks instead of paying a full barrier per action. FIFO scheduling
  * keeps the earlier job ahead; results are returned in input order.
  *
  * Only for steps that are independent by construction (disjoint output
  * paths / pure reads). `blocking` lets the global pool grow while
  * threads sit in collect/Await, so nested use (a parallel step that
  * itself calls [[map]]) cannot starve the pool. Await rethrows the
  * first failure — errors stay as loud as the sequential form.
  */
object Par {

  /** Most Spark jobs one [[map]] call keeps in flight. */
  val MaxPool = 8

  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    if (xs.sizeIs <= 1) return xs.map(f)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // a FRESH pool per call, not the shared global EC: Spark's job-local
    // properties (job description/group) live in InheritableThreadLocals,
    // so a shared pool's threads would permanently keep whatever the FIRST
    // spawning caller had set — measured as one query's job labels leaking
    // into every later query's parallel jobs. Fresh threads inherit THIS
    // caller's properties and die with the call; thread spin-up is
    // negligible beside the Spark actions they run.
    //
    // Pool width is capped at MaxPool: 2-3 jobs in flight already fills a
    // straggler tail, and an uncapped pool sized at xs.size would submit
    // one concurrent Spark job per element if a future caller mapped over
    // a large collection (current call sites pass <= 4). Excess elements
    // queue on the fixed pool and run as slots free.
    val width = math.min(xs.size, MaxPool)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(width)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try xs.map(x => Future(f(x))).map(Await.result(_, Duration.Inf))
    finally { pool.shutdown(): Unit }
  }

  /** Run side-effecting steps concurrently; returns when all complete. */
  def run(steps: (() => Unit)*): Unit = { map(steps)(_()); () }
}
