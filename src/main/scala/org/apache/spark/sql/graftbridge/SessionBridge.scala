package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.InsertAdaptiveSparkPlan

/** Per-query planning without adaptive execution (r20, reworked).
  *
  * `Confs.withConfs` (save → set → run → restore on the SHARED session
  * conf) is correct single-threaded, but commits run on arbitrary
  * threads — streaming micro-batch executors, concurrent fold jobs —
  * and two overlapping toggles can restore in the wrong order and leak
  * the override into the session permanently, while a toggle
  * concurrent with ANOTHER thread's planning silently applies to that
  * unrelated query (r19 saw exactly this:
  * `spark.sql.adaptive.enabled=false` from a commit bled into two
  * PlanSpec canaries planned at the same time). A cloned session per
  * override set avoids the race but freezes the parent's conf at
  * clone time, so settings made on the session later never reach the
  * planning of what runs on the clone.
  *
  * Here nothing is toggled or copied: a frame's (already analyzed)
  * plan gets a fresh `QueryExecution` on its own session whose
  * physical preparation rules are Spark's own list without
  * `InsertAdaptiveSparkPlan` — the non-adaptive list. (That rule reads
  * its switch from the session conf itself, so a thread-local conf
  * override cannot turn it off.) Planning and execution read the
  * session's conf as it is when the frame plans.
  *
  * `QueryExecution.preparations` is protected and the `Dataset`
  * constructor `private[sql]`, hence this object under
  * `org.apache.spark.sql`. */
object SessionBridge {
  /** `df`, planned without adaptive execution under its session's
    * current conf. */
  def withoutAqe(df: DataFrame): DataFrame = {
    val s = df.sparkSession.asInstanceOf[ClassicSession]
    val qe = new QueryExecution(s, df.queryExecution.analyzed) {
      override protected def preparations: Seq[Rule[SparkPlan]] =
        super.preparations.filterNot(_.isInstanceOf[InsertAdaptiveSparkPlan])
    }
    new ClassicDataset[Row](qe, () => RowEncoder.encoderFor(qe.analyzed.schema))
  }
}
