package graft
import org.apache.spark.sql.SparkSession
object TimeQ {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Session(Session.cpus)
    Land.root = "/tmp/graft_timeq_land"
    // TimeQ is a TIMING surface (Bench's fresh-JVM re-timer and the ×10
    // scale probes): same gate mode as Bench so sf0.1 and sf1 numbers
    // are always comparable. SPARK_GRAFT_GATES=on restores gate-priced
    // timing (and propagates into Bench's forked TimeQ children).
    Gates.configureForTiming()
    for (name <- args.tail)
      println(f"TIMEQ $name ${solo(spark, dir, name)}%.2f s")
    spark.stop()
  }

  /** Solo-times one query with Bench's per-query discipline: warm run,
    * `Broadcasts.release`, timed noop write, release — earlier queries'
    * persisted frames must not evict/spill against the timed one.
    * `onTimed` runs just before the timed pass. Returns seconds. */
  def solo(spark: SparkSession, dir: String, name: String,
           onTimed: () => Unit = () => ()): Double = {
    def run(): Unit = SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    run()
    graft.operators.Broadcasts.release(spark)
    onTimed()
    val t0 = System.nanoTime()
    run()
    val s = (System.nanoTime() - t0) / 1e9
    graft.operators.Broadcasts.release(spark)
    s
  }
}
