package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.classic.GraftTestShim
import org.apache.spark.sql.graftbridge.SessionConfBridge
import org.apache.spark.sql.streaming.Trigger

import graft.core.Sessions

/** The codegen-cache seam (`Sessions.CodegenCacheEntries`): Spark's
  * generated-class cache must hold the engine's working set, or every
  * query re-runs Janino on classes this JVM already compiled.
  */
class CodegenCacheSpec extends SparkSpec {
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a working set above Spark's default capacity compiles once, not per pass") {
    // 150 distinct projections: each one's generated classes differ by
    // the inlined literal, so the set overflows Spark's 100-entry default
    def pass(): Unit = (0 until 150).foreach { i =>
      spark.range(4).selectExpr(s"id + $i AS v").collect()
    }
    pass()
    val before = compiles
    pass()
    assert(compiles - before == 0,
      s"second pass recompiled ${compiles - before} generated classes")
  }

  test("a repeated streaming query compiles nothing the second time") {
    // each streaming query runs in a cloned session with a fresh UUID;
    // with artifact isolation on, its tasks got a fresh class loader and
    // missed every cached class
    val src = Files.createTempDirectory("codegen-cache-src").toString
    spark.range(100).toDF("id").write.mode("overwrite").parquet(src)
    def run(): Unit = spark.readStream.schema("id LONG").parquet(src)
      .selectExpr("id * 3 AS v", "id % 7 AS k").groupBy("k").count()
      .writeStream.format("memory").outputMode("complete")
      .queryName(s"codegen_cache_${System.nanoTime()}")
      .option("checkpointLocation", Files.createTempDirectory("codegen-cache-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    run()
    val before = compiles
    run()
    assert(compiles - before == 0,
      s"second streaming run recompiled ${compiles - before} generated classes")
  }

  test("child sessions keep the parent's artifact isolation") {
    val parent = spark.newSession()
    parent.conf.set(Sessions.ArtifactIsolationKey, "true")
    assert(Sessions.child(parent).conf.get(Sessions.ArtifactIsolationKey) == "true")
    assert(Sessions.child(spark).conf.get(Sessions.ArtifactIsolationKey) == "false")
  }

  test("an explicit user value of the cache capacity is kept") {
    val child = spark.newSession()
    SessionConfBridge.setStatic(child, Sessions.CodegenCacheKey, "123")
    Sessions.tune(child)
    assert(child.conf.get(Sessions.CodegenCacheKey) == "123")
  }

  test("tune after code was compiled warns instead of throwing") {
    spark.range(3).selectExpr("id * 7").collect()
    assert(compiles > 0)
    val child = spark.newSession()
    GraftTestShim.unsetConf(child, Sessions.CodegenCacheKey)
    val events = ArrayBuffer.empty[LogEvent]
    val appender = new AbstractAppender("codegen-cache-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.synchronized { events += e.toImmutable }
    }
    appender.start()
    val logger = LogManager.getLogger(Sessions.getClass.getName).asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    try Sessions.tune(child)
    finally logger.removeAppender(appender)
    val warned = events.filter(_.getMessage.getFormattedMessage.contains(Sessions.CodegenCacheKey))
    assert(warned.size == 1 && warned.head.getLevel.toString == "WARN")
    // the capacity in force is whatever CodeGenerator was built with; the
    // session must not claim a value that never took effect
    assert(!SessionConfBridge.isSet(child, Sessions.CodegenCacheKey))
  }
}
