package graft

/** Core count of every local-mode main (`local[n]`, and the shuffle
  * partition count that follows it): `SPARK_GRAFT_CPUS`, default 4.
  */
private[graft] object LocalCpus {
  val n: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)
}
