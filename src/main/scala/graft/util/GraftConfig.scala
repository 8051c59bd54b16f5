package graft.util

/** Global option registry with per-key validators (SURVEY §2.5 U1;
  * pipit/util/config.py:86-135 get_option/set_option/reset_option). */
object GraftConfig {
  private case class Opt(default: Any, validator: Any => Boolean)

  private val registry: Map[String, Opt] = Map(
    "log_level" -> Opt("INFO",
      v => Seq("DEBUG", "INFO", "WARN", "ERROR").contains(v)),
    "notebook_url" -> Opt("http://localhost:8888",
      v => v.isInstanceOf[String] && v.asInstanceOf[String].startsWith("http")),
    // "buffered": one in-memory pass per location (fast path; memory =
    // O(events of the largest location)). "bounded": O(stack-depth) state
    // with pair-record emission + join-back — survives pathological
    // single-location traces at the cost of two extra shuffles.
    "matcher_mode" -> Opt("buffered", v => Seq("buffered", "bounded").contains(v)),
    // 0 = single verify plan (default). > 0 = cap the exact-Jaccard
    // verify join's in-flight sorted-set payload at ~this many bytes by
    // running the verification in sequential pair-hash batches — the
    // single-box escape hatch for corpora whose verify payload exceeds
    // LOCAL shuffle disk (measured ~700 GB at the x100 Zipf corpus vs
    // ~60 GB free; a 1000-executor cluster absorbs the same volume at
    // ~0.7 GB/node, so leave this off there). Result set is identical
    // for any value: batches partition the candidate set by pair hash.
    // The batch join is the day-2 probe over an empty index, so the
    // knob bounds both: Dedup.jaccardPrefixPairs and
    // Dedup.jaccardPrefixIncremental (whose verify also ships the
    // indexed sets).
    "jaccard_verify_batch_bytes" -> Opt(0L,
      v => v.isInstanceOf[Long] && v.asInstanceOf[Long] >= 0L)
  )

  private val current = scala.collection.concurrent.TrieMap[String, Any]()

  def getOption(key: String): Any = {
    val opt = registry.getOrElse(key, throw new IllegalArgumentException(s"unknown option: $key"))
    current.getOrElse(key, opt.default)
  }

  def setOption(key: String, value: Any): Unit = {
    val opt = registry.getOrElse(key, throw new IllegalArgumentException(s"unknown option: $key"))
    if (!opt.validator(value))
      throw new IllegalArgumentException(s"invalid value for $key: $value")
    current(key) = value
  }

  def resetOption(key: String): Unit = {
    if (!registry.contains(key)) throw new IllegalArgumentException(s"unknown option: $key")
    current.remove(key)
  }

  def resetAll(): Unit = current.clear()
}
