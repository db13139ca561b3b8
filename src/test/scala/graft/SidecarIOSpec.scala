package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import graft.sources.SidecarIO

class SidecarIOSpec extends SparkSpec {

  test("writeString: readers never fail while two writers rewrite one sidecar 200 times") {
    spark // the sidecar FS resolves through the active session's conf
    val dir = java.nio.file.Files.createTempDirectory("sidecar_race").toString
    val path = s"$dir/state.json"
    // payloads of different lengths, so a torn or mismatched read shows
    def payload(g: Int) = s"""{"gen":$g,"pad":"${"x" * (g % 40 * 50)}"}"""
    SidecarIO.writeString(path, payload(0))
    val done = new AtomicBoolean(false)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    var reads = 0L
    val reader = new Thread(() =>
      while (!done.get) {
        try {
          val s = SidecarIO.readString(path)
          if (!s.matches("""\{"gen":\d+,"pad":"x*"\}"""))
            errors.add(new AssertionError(s"torn read: $s"))
          reads += 1
        } catch { case t: Throwable => errors.add(t) }
      })
    val writers = Seq(1, 2).map(w => new Thread(() =>
      (1 to 100).foreach { g =>
        try SidecarIO.writeString(path, payload(w * 1000 + g))
        catch { case t: Throwable => errors.add(t) }
      }))
    reader.start()
    writers.foreach(_.start())
    writers.foreach(_.join())
    done.set(true)
    reader.join()
    assert(errors.isEmpty, s"${errors.size} failures, first: ${errors.peek()}")
    assert(reads > 0)
    assert(Set(payload(1100), payload(2100))(SidecarIO.readString(path)))
    // no tmp file or checksum file is left beside the sidecar
    assert(SidecarIO.listNames(dir).toSet == Set("state.json"))
  }
}
