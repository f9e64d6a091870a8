package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every main (and the test suite) runs under:
  * `local[cpus]` with as many shuffle partitions as cores, UTC session
  * time, the library's SQL extensions installed and the UI off. One
  * conf, so a plan audit, a bench wall and an oracle dump all come
  * from the same session setup. */
object Session {

  /** `SPARK_GRAFT_CPUS`; unset or `*` means the host's core count, as
    * `local[*]` would pick. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim) match {
    case None | Some("*") => Runtime.getRuntime.availableProcessors
    case Some(n) => n.toInt
  }

  /** `SPARK_GRAFT_SF_DIR`, the dataset every main reads; unset means
    * sf0.01, the dataset of the oracle gate and the committed plan
    * audit. */
  lazy val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

  def local(cpus: Int = Session.cpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
