package graft.perfbench

/** One benchmark workload. `setup` brings the process under test from
  * nothing to ready (and is timed, several times per run); `prepare`
  * computes the expected outputs and warms the path up (untimed); `run`
  * drives the closed loop until the deadline and records every operation.
  */
trait Workload {
  def setup(): Unit
  def teardown(): Unit
  def prepare(): Unit
  def run(deadline: Long, rec: Recorder): Unit
  /** the Spark session the engine probe listens on (valid after setup) */
  def spark: org.apache.spark.sql.SparkSession
}
