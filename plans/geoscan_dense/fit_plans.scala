// Executed plan of every SQL action of one warm Geoscan.fit (epsilon 110 m,
// minPts 10) over the geoscan_dense seed-1 input (8200 points), in
// execution order. Run from the repository root once
// `python3 perfbench/run.py --workload geoscan_dense` has built the
// benchmark jar (program and generator classes):
//   spark-shell --master 'local[4]' --conf spark.sql.shuffle.partitions=4 \
//     --jars .bench_build/perfbench.jar -I plans/geoscan_dense/fit_plans.scala
// fit_local_finish_before.txt / fit_local_finish_after.txt hold its output
// between the PLANSTART and PLANEND lines.
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import perfbench.{DenseSpec, Gen}
val d = Gen.dense(DenseSpec(4, 2000, 450, 1000, 200), 110.0, 1L)
val pts = spark.createDataFrame(spark.sparkContext.parallelize(d.lat.zip(d.lng).toSeq, 4)).toDF("latitude", "longitude")
def fit() = new graft.cluster.Geoscan().setEpsilon(110).setMinPts(10).fit(pts)
fit() // warm-up
spark.catalog.clearCache()
val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
spark.listenerManager.register(new QueryExecutionListener {
  def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = actions.add((f, qe))
  def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = actions.add((f + "!failed", qe))
})
fit()
// listener callbacks arrive in order: the marker's record follows the fit's
spark.range(1).tail(1)
while (!actions.asScala.exists(_._1 == "tail")) Thread.sleep(20)
val fitActions = actions.asScala.toSeq.takeWhile(_._1 != "tail")
println("PLANSTART")
println(s"Executed plans of one Geoscan.fit (epsilon 110 m, minPts 10) over the geoscan_dense\n" +
  s"input at seed 1 (${d.size} points), local[4], spark.sql.shuffle.partitions = 4, one\n" +
  s"section per SQL action in execution order. ${fitActions.size} actions.\n")
fitActions.zipWithIndex.foreach { case ((f, qe), i) =>
  println(s"==== action ${i + 1}: $f ====")
  println(qe.explainString(FormattedMode))
}
println("PLANEND")
System.exit(0)
