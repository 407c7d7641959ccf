package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, udf}

/** Checks that the benchmark's materializers evaluate every output
  * column. A probe column (a UDF that counts its calls) is appended to a
  * projection-only registry query, q_text_quality: `collect()` and the
  * parquet write must call it once per row, while a bare `count()` —
  * which Catalyst answers without the projection — must not call it.
  */
object Selftest {
  def run(spark: SparkSession, data: String, work: String): Boolean = {
    val calls = spark.sparkContext.longAccumulator("probe")
    val probe = udf((x: Long) => { calls.add(1); x })
    def probed(): DataFrame = graft.SparkEntry.queries("q_text_quality")(spark, data)
      .withColumn("__probe", probe(lit(1L)))
    val rows = probed().collect().length.toLong
    def calledBy(what: String)(body: DataFrame => Any): Long = {
      calls.reset()
      body(probed())
      println(s"[selftest] $what: probe evaluated ${calls.value} times for $rows rows")
      calls.value
    }
    val results = Seq(
      "collect() evaluates every column" -> (calledBy("collect")(Materialize.collect) == rows),
      "parquet write evaluates every column" ->
        (calledBy("parquet")(Materialize.parquet(_, s"$work/selftest_out")) == rows),
      "bare count() would skip the column (probe is meaningful)" ->
        (calledBy("count")(_.count()) == 0L),
      "q_text_quality has rows" -> (rows > 0))
    results.foreach { case (n, ok) => println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $n") }
    results.forall(_._2)
  }
}
