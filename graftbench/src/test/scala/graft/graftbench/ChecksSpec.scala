package graft.graftbench

import graft.engine.MapReduce
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

class ChecksSpec extends AnyFunSuite {

  private val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")

  /** Writes a correct word-count output for `counts` and returns its dir. */
  private def wcOutput(counts: Map[String, Int]): Path = {
    val dir = Files.createTempDirectory("graftbench-checks-")
    val byPart = counts.toSeq.groupBy { case (w, _) => MapReduce.md5Partition(w, MrJobs.NumReducers) }
    (0 until MrJobs.NumReducers).foreach { i =>
      val lines = byPart.getOrElse(i, Nil).sortBy(_._1).map { case (w, c) => s"$w\t$c\n" }
      Files.writeString(dir.resolve(f"part-$i%05d"), lines.mkString)
    }
    dir
  }

  private val counts = words.zipWithIndex.map { case (w, i) => w -> (i + 1) }.toMap
  private val expected = Map("wc" -> counts.toSeq.sorted.map { case (w, c) => s"$w\t$c" }, "grep" -> Nil)

  test("a correct job output passes") {
    assert(MrJobs.checkOutput(wcOutput(counts), "wc_native", expected) === None)
  }

  test("a missing part file, an unsorted part, a misplaced key or a wrong count fails") {
    val missing = wcOutput(counts)
    Files.delete(missing.resolve("part-00003"))
    assert(MrJobs.checkOutput(missing, "wc_native", expected).get.contains("part files"))

    val unsorted = wcOutput(counts)
    val (p, lines) = MrJobs.partFiles(unsorted).map(f => f -> Files.readString(f).linesIterator.toSeq)
      .find(_._2.size > 1).get
    Files.writeString(p, lines.reverse.map(_ + "\n").mkString)
    assert(MrJobs.checkOutput(unsorted, "wc_native", expected).get.contains("not sorted"))

    val misplaced = wcOutput(counts)
    val w = words.head
    val home = MapReduce.md5Partition(w, MrJobs.NumReducers)
    val other = misplaced.resolve(f"part-${(home + 1) % MrJobs.NumReducers}%05d")
    Files.writeString(misplaced.resolve(f"part-$home%05d"),
      Files.readString(misplaced.resolve(f"part-$home%05d")).linesIterator.filterNot(_.startsWith(w + "\t")).map(_ + "\n").mkString)
    Files.writeString(other, (Files.readString(other).linesIterator.toSeq :+ s"$w\t1").sorted.map(_ + "\n").mkString)
    assert(MrJobs.checkOutput(misplaced, "wc_native", expected).get.contains(s"key '$w'"))

    val wrong = wcOutput(counts.updated("beta", 99))
    assert(MrJobs.checkOutput(wrong, "wc_exec", expected).get.contains("differs"))
  }

  test("the native word-count tokens match the reference golden after its empty-token rule") {
    val line = "The  quick\tbrown FOX"
    assert(MrJobs.words(line).toSeq === Seq("the", "quick", "brown", "fox"))
  }

  test("the same seed gives byte-identical ingest batches; another seed does not") {
    val known = IndexedSeq("a b c d e f", "g h i j k l m", "n o p q r s t u")
    def bytes(seed: Long, tick: Int): String = {
      val b = new BatchGen(seed).batch(tick, known)
      (b.docs.map { case (id, t) => s"$id\t$t" } ++
        b.vectors.map { case (id, v) => s"$id\t${v.map(java.lang.Float.floatToIntBits).mkString(",")}" }).mkString("\n")
    }
    assert(bytes(7, 3) === bytes(7, 3))
    assert(bytes(7, 3) !== bytes(8, 3))
    assert(bytes(7, 3) !== bytes(7, 4))
    val b = new BatchGen(7).batch(3, known)
    assert(b.docs.size === BatchGen.Docs && b.vectors.size === BatchGen.Vectors)
    assert(b.exact.nonEmpty && b.near.nonEmpty && b.fresh.nonEmpty)
    assert((b.exact ++ b.near ++ b.fresh).sorted === b.docs.map(_._1).sorted)
    assert(b.exact.forall(id => known.contains(b.docs.find(_._1 == id).get._2)))
  }
}
