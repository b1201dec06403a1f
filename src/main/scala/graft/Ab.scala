package graft

/** Dev tool: interleaved in-JVM A/B of registry rows under runtime conf
  * arms. Wall time on a shared host swings far more between JVMs than
  * most plan changes move a row, so every arm runs in the SAME JVM and
  * the arm order rotates every round: a co-tenant noise burst lands on
  * every arm instead of on whichever JVM was unlucky.
  *
  * Usage: `runMain graft.Ab <rounds> <q>[,<q>...] [arm ...]`
  * (env `SPARK_GRAFT_SF_DIR`, required, and `SPARK_GRAFT_CPUS` as in
  * [[Bench]]).
  *
  *   - An arm is `k=v[;k=v]`: runtime SQL confs set on top of the base
  *     session. The unmodified `base` arm always runs too, so
  *     `Ab 5 q k=v` is a two-arm A/B and `Ab 5 q` repeats `q` 5 times.
  *   - One untimed warm run per query (base arm) absorbs view builds
  *     and codegen. Each timed run is `q.run(...).count()`, Bench's
  *     contract; memoizing rows are memo-cleared before every run, and
  *     the cache and persisted RDDs are cleared after it.
  *   - Per (query, arm) it prints every reading and its [[summary]].
  */
object Ab {
  final case class Summary(min: Double, q1: Double, median: Double, q3: Double)

  /** min, quartiles and the TRUE median (an even count averages the two
    * middle readings) — linear interpolation between order statistics. */
  def summary(xs: Seq[Double]): Summary = {
    require(xs.nonEmpty, "no readings")
    val s = xs.sorted.toIndexedSeq
    def q(p: Double): Double = {
      val pos = p * (s.size - 1)
      val lo  = pos.toInt
      val hi  = math.min(lo + 1, s.size - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }
    Summary(s.head, q(0.25), q(0.5), q(0.75))
  }

  /** `k=v[;k=v]` -> its (key, value) pairs; Left(message) when malformed. */
  def parseArm(arm: String): Either[String, Seq[(String, String)]] = {
    val kvs = arm.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map(_.split("=", 2))
    if (kvs.isEmpty) Left(s"empty arm '$arm'")
    else kvs.collectFirst { case kv if kv.length != 2 || kv(0).trim.isEmpty => kv.mkString("=") } match {
      case Some(bad) => Left(s"bad arm entry '$bad' in '$arm' (expected k=v)")
      case None      => Right(kvs.map(kv => kv(0).trim -> kv(1).trim))
    }
  }

  def main(args: Array[String]): Unit = {
    def fail(msg: String): Nothing = {
      System.err.println(s"[ab] $msg")
      System.err.println("[ab] usage: Ab <rounds> <q>[,<q>...] [k=v[;k=v] ...]")
      sys.exit(2)
    }
    // fail fast — BEFORE the session spins up
    if (args.length < 2) fail("missing arguments")
    val rounds = args(0).toIntOption.filter(_ > 0).getOrElse(fail(s"bad round count '${args(0)}'"))
    val names  = args(1).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(Registry.byName.contains)
    if (names.isEmpty || unknown.nonEmpty)
      fail(s"unknown queries: ${unknown.mkString(", ")}\n" +
        s"[ab] valid names: ${Registry.all.map(_.name).sorted.mkString(", ")}")
    val arms: Seq[(String, Seq[(String, String)])] =
      ("base" -> Nil) +: args.drop(2).toSeq.map(a => a -> parseArm(a).fold(fail, identity))

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", fail("SPARK_GRAFT_SF_DIR (input table dir) is unset"))
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(s"local[$cpus]", cpus.toInt)
    try {
      val armKeys = arms.flatMap(_._2.map(_._1)).distinct
      val base    = armKeys.map(k => k -> spark.conf.getOption(k))
      def useArm(kvs: Seq[(String, String)]): Unit = {
        base.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
        kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      }
      def run(q: Q): Double = {
        if (q.memoizes) Registry.clearMemos()
        val t0 = System.nanoTime()
        q.run(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        dt
      }
      val qs = names.map(Registry.byName)
      qs.foreach(run) // untimed warm run, base arm
      val times = scala.collection.mutable.Map
        .empty[(String, String), Vector[Double]].withDefaultValue(Vector.empty)
      for (r <- 0 until rounds) {
        val order = arms.drop(r % arms.size) ++ arms.take(r % arms.size)
        for ((label, kvs) <- order) {
          useArm(kvs)
          for (q <- qs) times((q.name, label)) :+= run(q)
        }
        System.err.println(s"[ab] round ${r + 1}/$rounds done (order: ${order.map(_._1).mkString(" | ")})")
      }
      for (q <- qs; (label, _) <- arms) {
        val ts = times((q.name, label))
        val s  = summary(ts)
        println(f"[ab] ${q.name}%-28s $label%-12s ${ts.map(t => f"$t%6.2f").mkString(" ")}" +
          f"  min=${s.min}%6.2f q1=${s.q1}%6.2f median=${s.median}%6.2f q3=${s.q3}%6.2f")
      }
    } finally spark.stop()
  }
}
