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
}
