package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The one persist…unpersist lifetime: the frame is cached while the
  * body runs and released whether the body returns or throws.
  */
class PinSpec extends SparkSpec {

  test("Pin.during: the frame is pinned in the body and released after it returns") {
    val df = spark.range(64).withColumn("pin_returns", col("id") * 3)
    val n = Pin.during(df) { p =>
      assert(p.storageLevel === StorageLevel.MEMORY_AND_DISK)
      p.count()
    }
    assert(n === 64L)
    assert(df.storageLevel === StorageLevel.NONE)
  }

  test("Pin.during: the frame is released when the body throws") {
    val df = spark.range(64).withColumn("pin_throws", col("id") + 7)
    val thrown = intercept[IllegalStateException] {
      Pin.during(df) { p =>
        p.count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage === "body failed")
    assert(df.storageLevel === StorageLevel.NONE)
  }
}
