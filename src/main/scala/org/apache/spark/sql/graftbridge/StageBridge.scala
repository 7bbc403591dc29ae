package org.apache.spark.sql.graftbridge

import org.apache.spark.scheduler.StageInfo

/** `StageInfo.shuffleDepId` — the shuffle a shuffle-map stage writes —
  * is `private[spark]`; `graft.tools.Explain` matches it to the run's
  * query stages to name what each stage ran.
  */
object StageBridge {
  def shuffleDepId(si: StageInfo): Option[Int] = si.shuffleDepId
}
