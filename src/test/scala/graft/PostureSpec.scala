package graft

/** [[Posture.withConf]]: the scoped conf every stateful leg and probe
  * uses on a shared session.
  */
class PostureSpec extends SparkSpec {

  private val partitions = "spark.sql.shuffle.partitions"
  private val unsetKey = "graft.test.never_set"

  /** The key's explicitly set value, and the value a reader sees. */
  private def state(key: String): (Option[String], Option[String]) =
    (spark.conf.getAll.get(key), spark.conf.getOption(key))

  test("withConf returns a set key and an unset key to their prior state") {
    val (provider, rocksdb) = Posture.rocksDb
    val before = Seq(partitions, unsetKey, provider).map(state)
    assert(before(1) == ((None, None)))
    val inside = Posture.withConf(spark, partitions -> Some("2"),
                                  unsetKey -> Some("on"), Posture.rocksDb) {
      Seq(partitions, unsetKey, provider).map(spark.conf.get)
    }
    assert(inside == Seq("2", "on", rocksdb.get))
    assert(Seq(partitions, unsetKey, provider).map(state) == before)
  }

  test("withConf restores keys when the body throws") {
    val before = Seq(partitions, unsetKey).map(state)
    intercept[IllegalStateException] {
      Posture.withConf(spark, partitions -> Some("2"), unsetKey -> Some("on")) {
        throw new IllegalStateException("body failed")
      }
    }
    assert(Seq(partitions, unsetKey).map(state) == before)
  }

  test("a None value unsets a key for the duration of the body") {
    val key = graft.streaming.StateTtl.Key
    spark.conf.set(key, "60000")
    try {
      val inside = Posture.withConf(spark, key -> None)(state(key))
      assert(inside == ((None, None)))
      assert(spark.conf.get(key) == "60000")
    } finally spark.conf.unset(key)
  }
}
