package graft

/** `Graft.withConfs` leaves the session's confs as it found them: a set
  * key gets its value back, an unset key is unset again, also when the
  * body throws.
  */
class WithConfsSpec extends SparkSpec {

  private val setKey = "graft.test.withConfs.set"
  private val unsetKey = "graft.test.withConfs.unset"

  /** Runs `check` with `setKey` set to "before" and `unsetKey` unset. */
  private def around(check: => Unit): Unit = {
    spark.conf.set(setKey, "before")
    spark.conf.unset(unsetKey)
    try check finally spark.conf.unset(setKey)
  }

  private def state() = {
    val set = spark.conf.getAll
    (set.get(setKey), set.get(unsetKey))
  }

  test("withConfs restores a set value and unsets an unset key") {
    around {
      val inside = Graft.withConfs(spark, setKey -> "a", unsetKey -> "b") {
        (spark.conf.get(setKey), spark.conf.get(unsetKey))
      }
      assert(inside == (("a", "b")))
      assert(state() == ((Some("before"), None)))
    }
  }

  test("withConfs restores both when the body throws") {
    around {
      val e = intercept[IllegalStateException] {
        Graft.withConfs(spark, setKey -> "a", unsetKey -> "b") {
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage == "body failed")
      assert(state() == ((Some("before"), None)))
    }
  }
}
