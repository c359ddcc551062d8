package graft.flow

import java.time.LocalDate
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Driver-side workflow DSL — the reference's orchestration semantics
  * (SURVEY §2.8, W1-W11) as plain Scala. Data-plane work stays in lazy
  * Spark plans; this layer sequences *effects* (table writes, branches,
  * fan-out) the way the reference's DAGs do.
  *
  * Reference cites: dags/etl_elt_wine.py:434-456 (chaining),
  * :297-315 (branch), :404 (dynamic mapping), :195/:223 +
  * dags/etl_elt_wine_downstream.py:36-42 (dataset scheduling),
  * :86 (trigger rule), :76-77 (retries), :80-93 (params).
  */
object Pipeline {

  /** W6: trigger rules (subset the reference uses). */
  sealed trait TriggerRule
  case object AllSuccess extends TriggerRule
  case object NoneFailedMinOneSuccess extends TriggerRule

  sealed trait Outcome
  case class Succeeded(value: Any) extends Outcome
  case class Failed(error: Throwable) extends Outcome
  case object Skipped extends Outcome

  /** W8: typed run parameters with defaults + W2/F4 injectable clock and
    * M10 injectable seed (SURVEY §7.4: determinism for tests). */
  final case class RunConfig(
      params: Map[String, Any] = Map.empty,
      clock: () => LocalDate = () => LocalDate.now(),
      seed: Long = 42L)

  /** W5: XCom — stage return values addressable by stage name. */
  final class Context(val config: RunConfig) {
    private val store = mutable.Map[String, Any]()
    private val teardowns = mutable.ArrayBuffer[() => Unit]()
    def xcomPush(key: String, value: Any): Unit = store(key) = value
    def xcomPull[T](key: String): T = store(key).asInstanceOf[T]
    def param[T](name: String, default: T): T =
      config.params.getOrElse(name, default).asInstanceOf[T]

    /** Airflow's teardown task: `release` runs once when the run ends,
      * whatever the stages' outcomes — the place to free what a stage
      * pinned for its consumers (a checkpointed XCom value). */
    def onTeardown(release: => Unit): Unit = teardowns += (() => release)

    /** Runs every registered release, newest first; each runs even if an
      * earlier one throws, and the first failure is rethrown after. */
    private[flow] def teardown(): Unit = {
      val failures = teardowns.reverseIterator
        .flatMap(f => Try(f()).failed.toOption).toList
      teardowns.clear()
      failures.headOption.foreach(e => throw e)
    }
  }

  final case class Stage(
      name: String,
      deps: Seq[String] = Nil,
      retries: Int = 0,                       // W7
      retryDelayMs: Long = 0L,                // W7 (kept short in tests)
      trigger: TriggerRule = AllSuccess,      // W6
      branch: Boolean = false,                // W2: fn returns Seq[String] of selected stage names
      fn: Context => Any)

  final case class RunResult(outcomes: Map[String, Outcome], context: Context) {
    def succeeded(name: String): Boolean = outcomes(name).isInstanceOf[Succeeded]
    def value[T](name: String): T =
      outcomes(name).asInstanceOf[Succeeded].value.asInstanceOf[T]
  }
}

/** W1: a DAG of named stages with explicit dependencies, executed in
  * topological order, sequentially (W11: the reference pins
  * max_active_runs=1, concurrency=1 — intra-query parallelism belongs to
  * Spark, not the driver). */
final class Pipeline(val name: String, stages: Seq[Pipeline.Stage]) {
  import Pipeline._

  private val byName = stages.map(s => s.name -> s).toMap
  require(byName.size == stages.size, s"duplicate stage names in $name")
  stages.foreach(s => s.deps.foreach(d =>
    require(byName.contains(d), s"stage ${s.name} depends on unknown $d")))

  private def topoOrder: Seq[Stage] = {
    val visited = mutable.LinkedHashSet[String]()
    def visit(s: Stage, path: Set[String]): Unit = {
      require(!path.contains(s.name), s"dependency cycle at ${s.name}")
      if (!visited.contains(s.name)) {
        s.deps.foreach(d => visit(byName(d), path + s.name))
        visited += s.name
      }
    }
    stages.foreach(visit(_, Set.empty))
    visited.toSeq.map(byName)
  }

  /** W7: retry with delay around one stage execution. */
  private def withRetries(s: Stage, ctx: Context): Try[Any] = {
    def attempt(left: Int): Try[Any] =
      Try(s.fn(ctx)) match {
        case f @ Failure(_) if left > 0 =>
          if (s.retryDelayMs > 0) Thread.sleep(s.retryDelayMs)
          attempt(left - 1)
        case other => other
      }
    attempt(s.retries)
  }

  def run(config: RunConfig = RunConfig()): RunResult = {
    val ctx = new Context(config)
    val outcomes = mutable.Map[String, Outcome]()
    // W2: stages a branch decided against. A selected stage is released
    // only by the branch that gated it; non-branched stages run per deps.
    val unselected = mutable.Set[String]()
    try topoOrder.foreach { s =>
      val depOutcomes = s.deps.map(outcomes)
      val anyFailed = depOutcomes.exists(_.isInstanceOf[Failed])
      val ready = s.trigger match {
        // Airflow all_success: every upstream succeeded (failure and skip
        // both propagate downstream).
        case AllSuccess => depOutcomes.forall(_.isInstanceOf[Succeeded])
        // W6: none failed, at least one succeeded (skips tolerated).
        // No-upstream stages run regardless of trigger rule (as in Airflow).
        case NoneFailedMinOneSuccess =>
          s.deps.isEmpty ||
            (!anyFailed && depOutcomes.exists(_.isInstanceOf[Succeeded]))
      }
      if (unselected.contains(s.name) || !ready) {
        outcomes(s.name) = Skipped
      } else {
        withRetries(s, ctx) match {
          case Success(v) =>
            // a branch fn returning the wrong type is a stage Failure, not
            // a crash of the whole run
            val branchSel: Try[Set[String]] =
              if (s.branch) Try(v.asInstanceOf[Seq[String]].toSet)
              else Success(Set.empty)
            branchSel match {
              case Success(selected) =>
                outcomes(s.name) = Succeeded(v)
                ctx.xcomPush(s.name, v)
                if (s.branch) {
                  // every direct dependent of a branch is gated by it
                  stages.filter(_.deps.contains(s.name))
                    .map(_.name).filterNot(selected).foreach(unselected += _)
                }
              case Failure(e) =>
                outcomes(s.name) = Failed(new IllegalStateException(
                  s"branch ${s.name} must return Seq[String]", e))
            }
          case Failure(e) =>
            outcomes(s.name) = Failed(e)
        }
      }
    } finally ctx.teardown()
    RunResult(outcomes.toMap, ctx)
  }
}

object TaskGroup {
  /** W9 (etl_elt_wine.py:318-404): task grouping — namespace a set of
    * stages under `prefix` (stage names and their intra-group dep
    * references are rewritten to `prefix.name`; external deps untouched). */
  def apply(prefix: String, stages: Seq[Pipeline.Stage]): Seq[Pipeline.Stage] = {
    val names = stages.map(_.name).toSet
    stages.map { s =>
      s.copy(name = s"$prefix.${s.name}",
        deps = s.deps.map(d => if (names.contains(d)) s"$prefix.$d" else d))
    }
  }
}

object FanOut {
  /** W3: dynamic task mapping — fan one function out over a runtime-sized
    * list (the reference's .expand). Sequential here for determinism; each
    * element is typically an independent spark.ml fit that parallelizes
    * internally. At scale: a DataFrame of param rows instead. */
  def expand[A, B](items: Seq[A])(fn: A => B): Seq[Try[B]] =
    items.map(a => Try(fn(a)))

  /** Parallel variant — the reference's mapped tasks run concurrently
    * (one Airflow task instance each). Bounded pool; result order matches
    * input order regardless of completion order. */
  def expandPar[A, B](items: Seq[A], parallelism: Int = 4)(fn: A => B): Seq[Try[B]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, items.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = items.map(a => Future(Try(fn(a))))
      Await.result(Future.sequence(fs), Duration.Inf)
    } finally pool.shutdown()
  }
}

/** W4: data-aware scheduling — producers mark datasets updated; a consumer
  * pipeline fires when its full conjunction of datasets has updated since
  * the last fire (the reference's `schedule=(ds1 & ds2)`). */
final class DatasetLatch(datasets: Set[String]) {
  private val updated = mutable.Set[String]()
  def markUpdated(ds: String): Unit = synchronized {
    if (datasets.contains(ds)) updated += ds
  }
  def ready: Boolean = synchronized(updated.size == datasets.size)
  /** Returns true exactly once per full conjunction (then resets). */
  def fireIfReady(): Boolean = synchronized {
    if (ready) { updated.clear(); true } else false
  }
}
