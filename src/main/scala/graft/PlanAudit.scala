package graft

/** Dev tool: one-line physical-plan audit per registry query — counts
  * of shuffle exchanges / sorts and the join strategies chosen, to
  * catch plans that would not survive a 100× scale-up (stray cartesian
  * products, shuffles that a broadcast should have absorbed, repeated
  * exchanges of the same data). Run:
  * `sbt "runMain graft.PlanAudit /root/testdata/sf0.001"`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val interesting = Seq(
      "Exchange", "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct", "HashAggregate",
      "SortAggregate", "ObjectHashAggregate", "Window", "Sort "
    )
    for (q <- Registry.all.sortBy(_.name)) {
      try {
        val plan = q.run(spark, dir).queryExecution.executedPlan.toString
        val counts = interesting
          .map(k => k.trim -> plan.sliding(k.length).count(_ == k))
          .filter(_._2 > 0)
          .map { case (k, n) => s"$k=$n" }
          .mkString(" ")
        println(f"${q.name}%-24s $counts")
      } catch {
        case e: Throwable => println(f"${q.name}%-24s ERROR ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
