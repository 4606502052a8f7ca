package graft.streaming

import java.net.Socket
import java.nio.charset.StandardCharsets
import java.time.Duration

import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  test("BatchSizeManager: doubles above target, halves below, clamps (O16)") {
    val m = new BatchSizeManager(1000, 1, 10000, 5000.0)
    assert(m.adjust(12000, Duration.ofSeconds(1)) == 2000)  // 12k/s > 5k/s -> x2
    assert(m.adjust(20000, Duration.ofSeconds(1)) == 4000)
    assert(m.adjust(100, Duration.ofSeconds(1)) == 2000)    // 100/s -> halve
    // clamp at max
    val hi = new BatchSizeManager(8000, 1, 10000, 5000.0)
    assert(hi.adjust(100000, Duration.ofSeconds(1)) == 10000)
    assert(hi.adjust(100000, Duration.ofSeconds(1)) == 10000)
    // clamp at min
    val lo = new BatchSizeManager(2, 1, 10000, 5000.0)
    assert(lo.adjust(1, Duration.ofSeconds(10)) == 1)
    assert(lo.adjust(1, Duration.ofSeconds(10)) == 1)
    // reference presets
    assert(BatchSizeManager.live(1000).current == 1000)
    assert(BatchSizeManager.historical(1000).current == 5000) // clamped up to min
  }

  test("InvalidationServer: invalidate command refreshes; unknown rejected (O22)") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = new InvalidationServer(0, () => { hits.incrementAndGet(): Unit })
    srv.start()
    try {
      def send(cmd: String): String = {
        val s = new Socket("127.0.0.1", srv.listeningPort)
        try {
          s.getOutputStream.write(cmd.getBytes(StandardCharsets.UTF_8))
          s.getOutputStream.flush()
          s.shutdownOutput()
          new String(s.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
        } finally s.close()
      }
      assert(send("invalidate").contains("Cache invalidated successfully"))
      assert(hits.get() == 1)
      assert(send("bogus") == "Unknown command\n")
      assert(hits.get() == 1)
      assert(send("invalidate\n").contains("OK")) // trimmed like the reference
      assert(hits.get() == 2)
      // a LONGER command split by TCP exactly at the 10-byte boundary must
      // not spuriously invalidate: the linger read sees the tail segment
      val split = new Socket("127.0.0.1", srv.listeningPort)
      try {
        split.getOutputStream.write("invalidate".getBytes(StandardCharsets.UTF_8))
        split.getOutputStream.flush()
        Thread.sleep(50) // force a second segment
        split.getOutputStream.write("all".getBytes(StandardCharsets.UTF_8))
        split.getOutputStream.flush()
        split.shutdownOutput()
        val reply = new String(split.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
        assert(reply == "Unknown command\n", reply)
        assert(hits.get() == 2, "a split 'invalidateall' must not invalidate")
      } finally split.close()
      // the reference's newline-less, non-closing client still succeeds
      // (the linger expires and the accumulated command is served)
      val open = new Socket("127.0.0.1", srv.listeningPort)
      try {
        open.getOutputStream.write("invalidate".getBytes(StandardCharsets.UTF_8))
        open.getOutputStream.flush() // no newline, no shutdownOutput
        val reply = new String(open.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
        assert(reply.contains("Cache invalidated successfully"), reply)
        assert(hits.get() == 3)
      } finally open.close()
    } finally srv.stop()
  }
}
