package graft.core

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, lit}

/** Row-count observation during a write — the Spark-native replacement for
  * the reference's count-after-write logging (2_Bronze_to_Silver.py:60,104;
  * our stages previously did `write; df.count()`).
  *
  * `df.observe` attaches a `CollectMetrics` node: the count accumulates on
  * the executors DURING the single action the caller runs, so the report
  * number costs zero extra jobs — the count-after-write pattern re-scans
  * the whole batch (or re-reads the just-written table) once per table per
  * run, which at 100 TB is a second full pass that exists only for a log
  * line.
  *
  * Contract: `run` must execute exactly ONE action on the frame it is
  * given; the observed frame must not be consumed anywhere else (a second
  * action on the same Observation throws).
  *
  * An observed frame may also sit inside a PERSISTED frame that several
  * actions read (SilverScd2's staged rows). Then the first action, the one
  * that builds the cache, fills the observation: Spark collects the
  * metrics of an in-memory scan's cached plan with the query that built
  * it, and later actions read the cache without re-running the observed
  * plan. Read such an observation through [[reported]], never
  * `Observation.get`, because the building action's final plan may not
  * contain the observed node at all.
  */
object Observed {

  /** Run `run` on an observed copy of `df` and return the number of rows
    * the action processed. */
  def countDuring(df: DataFrame)(run: DataFrame => Unit): Long = {
    val obs = Observation()
    run(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** The metrics `obs` collected in an action that has already returned,
    * or None if they are not reported within `timeout`. The listener bus
    * delivers them shortly after the action ends, but an action whose
    * final plan dropped the observed subtree never reports them — AQE
    * replaces a stage that produced no rows with an empty relation — and
    * `Observation.get` would then block forever. A caller falls back to
    * computing the metrics directly. */
  def reported(obs: Observation, timeout: FiniteDuration = 10.seconds): Option[Row] =
    scala.util.Try(Await.result(obs.future, timeout)).toOption
}
