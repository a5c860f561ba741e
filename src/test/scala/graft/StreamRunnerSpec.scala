package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every bounded stream runs through ONE lifecycle
  * (`graft.streaming.Events.runStream`): naming, sink, AvailableNow
  * trigger, termination and StreamMeter recording live in one place.
  * A query that hand-rolls its own copy fails here — a hand-rolled
  * copy can skip a step, e.g. leave its query unnamed, which hides the
  * stream from StreamMeter. */
class StreamRunnerSpec extends AnyFunSuite {

  private val callSites = Seq(
    "writeStream" -> "\\.writeStream\\b",
    "awaitTermination" -> "\\.awaitTermination\\(",
    "StreamMeter.record" -> "StreamMeter\\.record\\(",
    "Trigger.AvailableNow" -> "Trigger\\.AvailableNow\\(")

  test("src/main holds exactly one call site of each stream-lifecycle " +
      "step, all in the Events runner") {
    val base = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(base).iterator()
      .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    // step -> (file -> call sites)
    var sites = Map.empty[String, Map[String, Int]]
    files.forEachRemaining { p =>
      if (p.toString.endsWith(".scala")) {
        val src = java.nio.file.Files.readString(p)
        for ((step, re) <- callSites) {
          val k = re.r.findAllIn(src).size
          if (k > 0) sites += step -> (sites.getOrElse(step, Map.empty) +
            (base.relativize(p).toString -> k))
        }
      }
    }
    for ((step, _) <- callSites)
      assert(sites.getOrElse(step, Map.empty) ==
        Map("graft/streaming/Events.scala" -> 1),
        s"$step call sites per file — route the stream through " +
          "Events.runStream instead")
  }
}
