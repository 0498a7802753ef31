package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Status, TestSuite}

/** The test JVM's one Spark session: 4 worker threads with task retries
  * (`local[4, 2]`), 4 shuffle partitions, no UI, and
  * [[plans.GraftExtensions]] (the strategy and the native SQL
  * functions, as on [[Graft.session]]).
  *
  * `Test / fork := true` runs every suite in ONE forked JVM. The first
  * `getOrCreate` of that JVM fixes the master, the extensions and every
  * static setting; a later builder gets the same session back, and its
  * `.config` runtime values stay set on it for every suite that runs
  * after (as `SkewJoinSpec`'s `spark.sql.adaptive.skewJoin.enabled` and
  * `StreamingSpec`'s `spark.sql.streaming.schemaInference` did). So no
  * suite builds its own session: a suite that needs other runtime
  * settings lists them in [[suiteConf]], which holds them for its own
  * tests only and restores the previous values afterwards. */
trait SharedSpark extends TestSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .withExtensions(new plans.GraftExtensions)
    .getOrCreate()

  /** Runtime SQL settings this suite's tests run under. */
  protected def suiteConf: Seq[(String, String)] = Nil

  override def run(testName: Option[String], args: Args): Status =
    if (suiteConf.isEmpty) super.run(testName, args)
    else withConf(suiteConf)(super.run(testName, args))

  /** Runs `body` under the runtime SQL settings `conf`, then puts back
    * each key's previous explicit value, or unsets it. */
  protected def withConf[T](conf: Seq[(String, String)])(body: => T): T = {
    val explicit = spark.conf.getAll
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally conf.foreach { case (k, _) =>
      explicit.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
