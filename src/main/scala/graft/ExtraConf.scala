package graft

import org.apache.spark.sql.SparkSession

/** `SPARK_GRAFT_CONF="k=v,k=v"` — extra session conf, applied last by
  * [[jobs.Jobs.buildSession]] for every main, so whole suites can run
  * under a chosen configuration (e.g. `spark.graft.selfJoin.strategy=
  * shuffle`, a different `spark.sql.shuffle.partitions`).
  *
  * Documented limitation: entries split on every comma, so a conf whose
  * VALUE contains commas (list-valued confs like extra JVM options)
  * cannot be passed this way — set such conf inside the session builder
  * instead. Malformed fragments without '=' FAIL FAST: this parser runs
  * inside the verification gate, where a silently half-applied conf
  * string would make a "passes under strategy X" claim about a run that
  * never actually set strategy X.
  */
object ExtraConf {
  val EnvVar = "SPARK_GRAFT_CONF"

  def isSet: Boolean = sys.env.get(EnvVar).exists(_.trim.nonEmpty)

  def applyTo(builder: SparkSession.Builder): SparkSession.Builder = {
    sys.env.get(EnvVar).foreach { raw =>
      val frags = raw.split(",").map(_.trim).filter(_.nonEmpty)
      val bad = frags.filterNot(_.contains("="))
      require(bad.isEmpty,
        s"$EnvVar fragments without '=' (comma-valued confs cannot be " +
          s"passed through this env var): ${bad.mkString(", ")}")
      frags.foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k.trim, v.trim)
      }
    }
    builder
  }
}
