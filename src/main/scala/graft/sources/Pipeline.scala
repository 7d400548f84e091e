package graft.sources

import org.apache.spark.sql.{DataFrame, Observation}
import graft.sources.MetadataLog.RunRecord

/** Minimal pipeline orchestration mirroring the reference's per-source
  * pipeline scripts (reference: src/pipelines/street_manager.py and
  * siblings: fetch -> process -> load with retry + metadata logging).
  * A pipeline is a named sequence of DataFrame stages run by one terminal
  * action; the action is retried with backoff (the reference's
  * insert_into_motherduck retry, data_processor_utils.py:22) and each
  * stage's row count recorded.
  */
object Pipeline {

  case class Stage(name: String, run: DataFrame => DataFrame)

  /** Attempts of the terminal action before [[runObserved]] gives up. */
  private val MaxAttempts = 3

  /** Backoff before retry n is `BaseDelayMs * 2^(n-1)`. */
  private val BaseDelayMs = 100L

  /** Single-action pipeline: every stage's plan is built lazily with an
    * `observe()` row counter, then ONE terminal `action` executes the whole
    * chain — each stage runs exactly once (O(N) total work vs the O(N^2) of
    * per-stage counting). Retry wraps the terminal action: Spark already
    * retries lost tasks internally, so this catches whole-job transients —
    * the level the reference's insert retry operates at. Observations are
    * rebuilt per attempt (an Observation binds to one action).
    *
    * The stages execute FUSED in one job, so each record's `elapsed_ms` is
    * the WHOLE pipeline's wall time: there is no per-stage boundary to
    * time. */
  def runObserved(pipeline: String, input: DataFrame, stages: Seq[Stage],
                  action: DataFrame => Unit): Seq[RunRecord] = {
    var attempt = 0
    while (true) {
      attempt += 1
      // only the ACTION is inside the retry boundary: resolving the
      // observations afterwards must not re-run a committed terminal
      // write (a post-commit InterruptedException would have re-run a
      // non-idempotent append and duplicated rows in the warehouse)
      val succeeded: Option[(Seq[(String, Observation)], Long)] =
        try {
          val t0 = System.currentTimeMillis()
          val (out, observations) =
            stages.foldLeft((input, Seq.empty[(String, Observation)])) {
              case ((df, acc), stage) =>
                val (observedDf, obs) = MetadataLog.observed(pipeline, stage.name)(stage.run(df))
                (observedDf, acc :+ (stage.name -> obs))
            }
          action(out)
          Some((observations, System.currentTimeMillis() - t0))
        } catch {
          case scala.util.control.NonFatal(e) =>
            if (attempt >= MaxAttempts)
              throw new RuntimeException(
                s"[$pipeline] failed after $attempt attempts", e)
            Thread.sleep(BaseDelayMs * (1L << (attempt - 1)))
            None
        }
      succeeded.foreach { case (observations, elapsed) =>
        return observations.map { case (name, obs) =>
          MetadataLog.resolve(pipeline, name, obs, elapsed)
        }
      }
    }
    sys.error("unreachable")
  }
}
