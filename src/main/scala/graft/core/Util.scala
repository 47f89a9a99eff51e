package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Small shared utilities for the bench/inspection entry points and the
  * plan-shape tests — single definitions so an AQE wrapper change or a
  * repo-layout change is fixed in one place.
  */
object Util {
  /** Repo root for artifact files (bench_out.json, bench_baseline.json,
    * bench_heavy_spark.json): SPARK_GRAFT_REPO if set, else the nearest
    * ancestor of cwd containing build.sbt, else cwd. A cwd-relative
    * artifact path would silently land elsewhere (and stale-merge) the
    * moment a runner launches sbt from another directory. */
  lazy val repoRoot: java.nio.file.Path = {
    sys.env.get("SPARK_GRAFT_REPO").map(java.nio.file.Paths.get(_)).getOrElse {
      val p = java.nio.file.Paths.get("").toAbsolutePath
      var found: java.nio.file.Path = null
      var cur = p
      while (cur != null && found == null) {
        if (java.nio.file.Files.exists(cur.resolve("build.sbt"))) found = cur
        cur = cur.getParent
      }
      if (found != null) found else p
    }
  }

  /** Parallelism floor: repartition `df` up to `n` partitions only when
    * it plans FEWER (n <= 0 = off). A narrow local parquet scan yields
    * 1-3 row-group-bounded splits, which serializes per-row script or
    * kernel work on one task of a many-core host; that work dominates
    * the slim input shuffle. At deployment scale the scan already plans
    * more partitions than cores and this is a no-op, so no exchange is
    * added where the data is large. */
  def partitionFloor(df: DataFrame, n: Int): DataFrame =
    if (n > 0 && df.rdd.getNumPartitions < n) df.repartition(n) else df

  /** Every node of an executed plan, descending through the AQE wrappers
    * (AdaptiveSparkPlanExec / QueryStageExec) that hide finalized
    * subtrees from a plain children walk. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => Nil
    }
    p +: (p.children ++ inner).flatMap(planNodes)
  }
}
