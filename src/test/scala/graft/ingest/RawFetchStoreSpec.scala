package graft.ingest

import graft.SparkSpec

class RawFetchStoreSpec extends SparkSpec {

  test("fetch runs once within TTL, re-runs after expiry") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft-cache") + "/raw"
    var fetches = 0
    def fetch = { fetches += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }

    val first = RawFetchStore.cached(sp, dir)(fetch)
    assert(first.count() == 2 && fetches == 1)
    val second = RawFetchStore.cached(sp, dir)(fetch)
    assert(second.count() == 2 && fetches == 1) // served from cache

    val third = RawFetchStore.cached(sp, dir, ttlMillis = -1)(fetch)
    assert(third.count() == 2 && fetches == 2) // expired -> refetch
  }
}
