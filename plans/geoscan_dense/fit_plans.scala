// Executed plan of every SQL action of one warm Geoscan.fit (epsilon 110 m,
// minPts 10) over the geoscan_dense seed-1 input (8200 points), in
// execution order, with the number of Spark jobs each action ran. Run from
// the repository root once `python3 perfbench/run.py --workload
// geoscan_dense` (or `python3 perfbench/build.py`) has built the benchmark
// jar (program and generator classes):
//   spark-shell --master 'local[4]' --conf spark.sql.shuffle.partitions=4 \
//     --jars .bench_build/perfbench.jar -I plans/geoscan_dense/fit_plans.scala
// fit_local_finish_*.txt and fit_local_hulls_*.txt hold its output between
// the PLANSTART and PLANEND lines (the fit_local_finish files predate the
// job counts).
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import perfbench.{DenseSpec, Gen}
val d = Gen.dense(DenseSpec(4, 2000, 450, 1000, 200), 110.0, 1L)
val pts = spark.createDataFrame(spark.sparkContext.parallelize(d.lat.zip(d.lng).toSeq, 4)).toDF("latitude", "longitude")
def fit() = new graft.cluster.Geoscan().setEpsilon(110).setMinPts(10).fit(pts)
fit() // warm-up
spark.catalog.clearCache()
// One listener sees, in order, every job start and every SQL execution's
// end. A job carries the SQL execution id of the action it runs for (the
// root id, when an action nests executions); a job without one ran outside
// any SQL action. An action is a root execution whose end event carries a
// name and a QueryExecution — what a QueryExecutionListener reports; those
// two fields are not public, so they are read by reflection.
val jobsByExecution = new ConcurrentHashMap[Long, AtomicInteger]()
val jobsOutsideSql = new AtomicInteger()
val roots = new ConcurrentHashMap[Long, Long]()
val actions = new ConcurrentLinkedQueue[(Long, String, QueryExecution)]()
def member[T](o: AnyRef, name: String): T = o.getClass.getMethod(name).invoke(o).asInstanceOf[T]
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))) match {
      case Some(id) => jobsByExecution.computeIfAbsent(id.toLong, _ => new AtomicInteger()).incrementAndGet()
      case None => jobsOutsideSql.incrementAndGet()
    }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      roots.put(s.executionId, s.rootExecutionId.getOrElse(s.executionId))
    case end: SparkListenerSQLExecutionEnd =>
      val name = member[Option[String]](end, "executionName")
      val qe = member[QueryExecution](end, "qe")
      if (name.isDefined && qe != null && roots.get(end.executionId) == end.executionId)
        actions.add((end.executionId, name.get, qe))
    case _ =>
  }
})
jobsOutsideSql.set(0)
fit()
// events arrive in order: once the marker action is recorded, every job
// and action of the fit is too
spark.range(1).tail(1)
while (!actions.asScala.exists(_._2 == "tail")) Thread.sleep(20)
val fitActions = actions.asScala.toSeq.takeWhile(_._2 != "tail")
def jobs(id: Long): Int = Option(jobsByExecution.get(id)).map(_.get).getOrElse(0)
println("PLANSTART")
println(s"Executed plans of one Geoscan.fit (epsilon 110 m, minPts 10) over the geoscan_dense\n" +
  s"input at seed 1 (${d.size} points), local[4], spark.sql.shuffle.partitions = 4, one\n" +
  s"section per SQL action in execution order, with the Spark jobs it ran.\n" +
  s"${fitActions.size} actions, ${fitActions.map(a => jobs(a._1)).sum} jobs in them, " +
  s"${jobsOutsideSql.get} jobs outside any.\n")
fitActions.zipWithIndex.foreach { case ((id, f, qe), i) =>
  println(s"==== action ${i + 1}: $f (jobs: ${jobs(id)}) ====")
  println(qe.explainString(FormattedMode))
}
println("PLANEND")
System.exit(0)
