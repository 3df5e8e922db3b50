package graft

/** The library-consumer contract of [[Caches]]: a query's in-query
  * persists are registered, release() frees exactly those — and never a
  * cache the consumer made themselves (the reason release() exists
  * instead of pointing consumers at the blunt catalog.clearCache()). */
class CachesSpec extends SparkSpec {

  test("release unpersists the engine's registered relations, not the consumer's") {
    spark.catalog.clearCache()
    Caches.release() // drain whatever earlier suites registered
    assert(Caches.liveCount === 0)
    // a consumer-owned cache that must survive release()
    val mine = Tables.events(spark, sf).limit(10).cache()
    mine.count()
    // q112 persists its trigram relation through Caches
    operators.AuditOps.queries("q112_source_overlap")(spark, sf).count()
    assert(Caches.liveCount > 0, "query did not register its persist")
    Caches.release()
    assert(Caches.liveCount === 0)
    assert(mine.storageLevel.useMemory, "consumer cache must survive release()")
    mine.unpersist(blocking = true)
  }

  test("release invalidates the envelope memo so reuse re-persists, not recomputes-uncached") {
    Caches.release()
    val before = contentops.ContentOps.queries("q50_envelope_parse")(spark, sf)
    before.count()
    assert(Caches.liveCount > 0, "envelope build did not register")
    Caches.release()
    // after release the memo is dropped: the next query registers a FRESH
    // persisted envelope instead of silently reusing an unpersisted plan
    contentops.ContentOps.queries("q50_envelope_parse")(spark, sf).count()
    assert(Caches.liveCount > 0, "post-release reuse did not re-persist the envelope")
    Caches.release()
  }

  test("persisting an already cached plan logs no warning, and release still drops the cache") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.storage.StorageLevel
    Caches.release()
    spark.catalog.clearCache()
    val warned = new java.util.concurrent.atomic.AtomicInteger()
    val appender = new AbstractAppender("caches-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("Asked to cache already cached data"))
          warned.incrementAndGet()
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    val (first, second) = try {
      val builds = (contentops.ContentOps.envelopeWithBody(spark),
        contentops.ContentOps.envelopeWithBody(spark))
      assert(warned.get === 0, "Caches.persist re-persisted an already cached plan")
      // the appender does see the warning: a raw persist of the cached
      // plan logs it
      builds._1.persist()
      assert(warned.get === 1, "the appender missed the CacheManager warning")
      builds
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
    assert(first.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(Caches.liveCount === 2, "both builds must be registered for release()")
    Caches.release()
    assert(first.storageLevel === StorageLevel.NONE, "release() left the envelope cached")
    assert(second.storageLevel === StorageLevel.NONE)
  }
}
