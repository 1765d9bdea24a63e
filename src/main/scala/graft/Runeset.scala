package graft

import org.apache.spark.sql.SparkSession

/** The "runeset" analog (reference README.md:143-144 — a YAML file
  * naming the spells to load and their configuration): a plain typed
  * config with a properties-style parser (no YAML dependency in this
  * build), feeding session construction. Spells get their config via
  * `spellConf` — the reference passes the runeset's per-spell table
  * to `prepare(config)` (docunomicon/README.md:35-47).
  *
  * `buildSession` is the one place a SparkSession is built: the mains
  * take [[Runeset.host]] (or the `local[4]` default) and the test
  * suites take `TestSession.spark`, so every session gets graft's
  * planner — functions, optimizer rules and the physical rule —
  * injected when it is built.
  */
final case class Runeset(
    master: String = "local[4]",
    shufflePartitions: Int = 4,
    timezone: String = "UTC",
    maxHops: Int = graft.engine.SpellEngine.RunawayLoopBound,
    spellConf: Map[String, Map[String, String]] = Map.empty) {

  def buildSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", timezone)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Runeset {

  /** Every core of the host (the driver machine is 32-way), one
    * shuffle partition per core; `SPARK_GRAFT_CPUS` overrides the
    * count for dev runs.
    */
  def host: Runeset = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    Runeset(master = s"local[$cpus]", shufflePartitions = cpus)
  }

  /** Drops every cached table and every persisted RDD between queries.
    * `clearCache` alone leaves `localCheckpoint` blocks: the
    * propagation queries leave one per round, and the orphans skew
    * later timings through memory pressure.
    */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Runs `body` with each of `settings` set on the session, then puts
    * every key back as it was (its previous value, or unset), also when
    * the body throws. Session conf is global, so every scoped override
    * goes through here and none leaks into the next query.
    */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Parse `key = value` lines; `spell.<name>.<key> = v` nests into
    * that spell's config table. '#' starts a comment.
    */
  def parse(text: String): Runeset = {
    val pairs = text.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains("="))
      .map { l =>
        val Array(k, v) = l.split("=", 2)
        k.trim -> v.trim
      }.toList
    val base = pairs.toMap
    val spellConf = pairs.collect {
      case (k, v) if k.startsWith("spell.") && k.count(_ == '.') >= 2 =>
        val rest = k.stripPrefix("spell.")
        val (name, key) = rest.splitAt(rest.indexOf('.'))
        (name, key.stripPrefix("."), v)
    }.groupBy(_._1).map { case (n, xs) => n -> xs.map(x => x._2 -> x._3).toMap }
    Runeset(
      master = base.getOrElse("master", "local[4]"),
      shufflePartitions = base.get("shuffle_partitions").map(_.toInt).getOrElse(4),
      timezone = base.getOrElse("timezone", "UTC"),
      maxHops = base.get("max_hops").map(_.toInt)
        .getOrElse(graft.engine.SpellEngine.RunawayLoopBound),
      spellConf = spellConf)
  }
}
