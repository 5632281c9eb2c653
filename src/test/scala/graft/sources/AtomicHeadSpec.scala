package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The one atomic small-file commit: on the local filesystem a head
  * being overwritten is never observed missing, and a checksum sidecar
  * left by an earlier checksummed write never fails the read of the new
  * content.
  */
class AtomicHeadSpec extends AnyFunSuite {
  private val hconf = new Configuration()

  test("a local head is never missing while it is overwritten") {
    val dir = Files.createTempDirectory("atomic-head")
    val head = dir.resolve("_x_head.json")
    AtomicHead.write(dir.toString, "_x_head.json", 0L, """{"gen": 0}""", hconf)
    val stop = new AtomicBoolean(false)
    val probes = new AtomicLong
    val misses = new AtomicLong
    val reader = new Thread(() =>
      while (!stop.get) {
        probes.incrementAndGet()
        if (!Files.exists(head)) misses.incrementAndGet()
      })
    reader.start()
    try (1 to 600).foreach(g =>
      AtomicHead.write(dir.toString, "_x_head.json", g, s"""{"gen": $g}""", hconf))
    finally { stop.set(true); reader.join() }
    assert(probes.get > 0L)
    assert(misses.get === 0L, s"head missing on ${misses.get} of ${probes.get} probes")
    assert(Files.readString(head) === """{"gen": 600}""")
    // no temp file survives a completed commit
    assert(Files.list(dir).toArray.map(_.toString).count(_.contains(".tmp")) === 0)
  }

  test("a stale .crc sidecar does not break the checksummed read of a new head") {
    val dir = Files.createTempDirectory("atomic-head-crc")
    val fs = FileSystem.getLocal(hconf)
    val p = new Path(dir.toString, "_y_head.json")
    val out = fs.create(p, true)
    try out.write("""{"gen": 0, "padding": "an older and longer head"}""".getBytes(UTF_8))
    finally out.close()
    assert(Files.exists(dir.resolve("._y_head.json.crc")))
    AtomicHead.write(s"file:$dir", "_y_head.json", 1L, """{"gen": 1}""", hconf)
    val in = fs.open(p)
    val got = try new String(in.readAllBytes(), UTF_8) finally in.close()
    assert(got === """{"gen": 1}""")
  }
}
