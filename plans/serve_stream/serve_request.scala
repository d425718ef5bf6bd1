// Executed plan of one serve_stream-shaped request through Blooms.score.
// Run from this directory with the program's classes on the classpath:
//   spark-shell --master 'local[4]' --jars <program jar> \
//     --conf spark.sql.extensions=graft.plans.GraftExtensions -I serve_request.scala
// request_before.txt / request_after.txt hold its RESULT line and plan.
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.score.Blooms
// filters for two users, trained on their own engine cells at precision 10
val hist = spark.createDataFrame(Seq(("u1", 40.7000, -74.0000), ("u1", 40.7004, -74.0003),
  ("u2", 40.8000, -73.9000))).toDF("user", "latitude", "longitude")
val tiles = hist.select(col("user"),
  graft.functions.GeoFunctions.geoCell(col("latitude"), col("longitude"), 10).as("h3"))
val blooms = Blooms.toMap(Blooms.train(tiles))
// one serve_stream-shaped request: a one-partition RDD-backed frame
val schema = StructType.fromDDL("tx_id BIGINT, user STRING, latitude DOUBLE, longitude DOUBLE, amount DOUBLE")
val rows = Seq(Row(1L, "u1", 40.7, -74.0, 5.0), Row(2L, "u1", 41.0, -74.0, 6.0),
  Row(3L, "stranger", 40.7, -74.0, 7.0))
val req = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
val out = Blooms.score(req, blooms, 10).select("tx_id", "user", "latitude", "longitude", "anomaly")
println("RESULT " + out.collect().map(_.toSeq.mkString(",")).mkString(" | "))
println("PLANSTART")
out.explain("formatted")
println("PLANEND")
System.exit(0)
