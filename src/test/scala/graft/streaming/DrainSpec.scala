package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spark-free contracts of the drain skeleton: cancellation of the
  * overlapped per-batch writes, and the guard that keeps the streaming
  * plumbing in one file. */
class DrainSpec extends AnyFunSuite {

  test("overlapWrites: an interrupted caller stops leg b before it throws") {
    // a cancelled stream interrupts the thread running foreachBatch; the
    // concurrent leg must not keep writing after its drain has unwound
    val bStarted = new CountDownLatch(1)
    val never = new CountDownLatch(1)
    val bStopped = new AtomicBoolean(false)
    val stoppedWhenThrown = new AtomicReference[Option[Boolean]](None)
    val caller = new Thread(() =>
      try Drain.overlapWrites(()) {
        try { bStarted.countDown(); never.await() } finally bStopped.set(true)
      } catch {
        case _: InterruptedException => stoppedWhenThrown.set(Some(bStopped.get))
      })
    caller.start()
    assert(bStarted.await(30, TimeUnit.SECONDS), "leg b never started")
    caller.interrupt()
    caller.join(60000)
    assert(!caller.isAlive, "overlapWrites did not return after the interrupt")
    assert(stoppedWhenThrown.get.contains(true),
      s"overlapWrites threw while leg b was still running: ${stoppedWhenThrown.get}")
  }

  test("foreachBatch, AvailableNow and the /dev/shm placement live only in Drain.scala") {
    // the drain skeleton was once copied by hand 18 times and its
    // placement rule 5 times; the copies drifted into leaks
    val main = Paths.get("src/main/scala")
    val drain = main.resolve("graft/streaming/Drain.scala")
    // whole identifiers only: `StreamingOps.foreachBatchToTable` is a
    // query body, not a foreachBatch site
    val patterns = Seq("""\.foreachBatch\b""", """Trigger\.AvailableNow\b""",
      "\"/dev/shm\"").map(_.r)
    def read(p: java.nio.file.Path) =
      new String(Files.readAllBytes(p), StandardCharsets.ISO_8859_1)
    val walk = Files.walk(main)
    val sources = try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList finally walk.close()
    assert(sources.contains(drain), s"$drain not found — is the working dir the repo root?")
    val strays = for {
      f <- sources if f != drain
      p <- patterns if p.findFirstIn(read(f)).nonEmpty
    } yield s"$f: $p"
    assert(strays.isEmpty, s"streaming plumbing outside Drain.scala:\n${strays.mkString("\n")}")
    patterns.foreach { p =>
      val n = p.findAllIn(read(drain)).size
      assert(n == 1, s"Drain.scala has $n sites of $p, expected exactly one")
    }
  }
}
