package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import graft.sources.IndexStore

class BenchWarmupSpec extends SparkSpec {

  test("warmup over a dir without fixtures reports the failure on stderr") {
    val empty = Files.createTempDirectory("graft-nofixtures").toString
    val (cache, resident) = (SparkEntry.cacheTables, IndexStore.resident)
    val buf = new ByteArrayOutputStream()
    val err = System.err
    System.setErr(new PrintStream(buf, true))
    try Bench.warmup(spark, empty)
    finally {
      System.setErr(err)
      SparkEntry.cacheTables = cache
      IndexStore.resident = resident
    }
    val out = buf.toString
    assert(out.contains("[bench] warmup failed:"), out)
    assert(out.contains(empty), out)
  }

  test("BENCH_LOCAL.json is kept when it records another fixture") {
    val line = """{"metric":"total","value":1.0,"queries":{},"sf":"/data/sf0.1"}"""
    assert(Bench.otherFixture(Some(line), "/data/sf0.001").contains("/data/sf0.1"))
    assert(Bench.otherFixture(Some(line), "/data/sf0.1").isEmpty)
    assert(Bench.otherFixture(Some(line), "/data/./sf0.1/").isEmpty)
    assert(Bench.otherFixture(None, "/data/sf0.001").isEmpty)
    assert(Bench.otherFixture(Some("""{"metric":"total"}"""), "/data/sf0.001").isEmpty)
    // the kept case still saves the run, named after its fixture dir
    assert(Bench.fixtureFile("/data/sf0.001") == "BENCH_LOCAL.sf0.001.json")
    assert(Bench.fixtureFile("bench-data/sf1/") == "BENCH_LOCAL.sf1.json")
    assert(Bench.fixtureFile("/") == "BENCH_LOCAL.fixture.json")
  }
}
