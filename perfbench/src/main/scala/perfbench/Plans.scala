package perfbench

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Reads the framed-Avro scan's DSv2 custom metrics off an executed plan. */
object Plans extends AdaptiveSparkPlanHelper {
  val ScanMetricNames: Seq[String] = Seq("segments_planned", "segments_pruned",
    "segments_bloom_skipped", "frames_emitted", "frames_malformed")

  def scanMetrics(plan: SparkPlan): Map[String, Long] = {
    val scans = collectWithSubqueries(plan) {
      case b: BatchScanExec if b.scan.getClass.getName.startsWith("graft.sources.") => b
    }
    if (scans.isEmpty) Map.empty
    else ScanMetricNames.map(n => n -> scans.flatMap(_.metrics.get(n)).map(_.value).sum).toMap
  }
}
