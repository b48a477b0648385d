package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Static lint over `src/main`: a drill's scratch or store root comes
  * from [[GenStore.open]] (unique per invocation, released with the
  * query), never from a hand-built `java.io.tmpdir` path — a fixed path
  * lets a second run of the same drill delete or double the first run's
  * store. The only other `java.io.tmpdir` readers are the build-if-absent
  * caches that are MEANT to be shared across runs, pinned here by count
  * so a new hand-rolled root cannot slip in beside them. */
class TmpRootLintSpec extends AnyFunSuite {

  private val Needle = "System.getProperty(\"java.io.tmpdir\")"

  /** File name → allowed occurrences, each a named shared cache. */
  private val Allowed: Map[String, Int] = Map(
    "GenStore.scala" -> 1,          // graft_stores/<name>_<unique>
    "VectorQueries.scala" -> 7,     // cachedModel (graft_models) + the drop*Caches siblings
    "TextQueries.scala" -> 1,       // the bucketed dup-corpus table (graft_bucketed)
    "Bucketing.scala" -> 2,         // graft_bucketed tables
    "PartitionedLayout.scala" -> 1, // graft_partitioned tables
    "AdversarialCorpus.scala" -> 1, // the adversarial corpus
    "ClusteredAnn.scala" -> 1,      // the clustered ANN corpus
    "ScaleStress.scala" -> 1,       // the scale corpus
    "ScaleAdversarial.scala" -> 1)  // the adversarial scale corpus

  private def scalaFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
      .filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  test("java.io.tmpdir is read only by GenStore and the named shared caches") {
    val counts = scalaFiles(Paths.get("src/main")).map { p =>
      val text = Files.readString(p)
      p.getFileName.toString ->
        Iterator.iterate(text.indexOf(Needle))(i => text.indexOf(Needle, i + 1)).takeWhile(_ >= 0).size
    }.filter(_._2 > 0)
    assert(counts.nonEmpty, "no src/main files scanned — wrong working directory?")
    val offenders = counts.filter { case (f, n) => n > Allowed.getOrElse(f, 0) }
    assert(offenders.isEmpty,
      s"hand-built java.io.tmpdir roots (open a GenStore instead): ${offenders.mkString(", ")}")
  }

  test("graft_stores is named only by GenStore") {
    val named = scalaFiles(Paths.get("src/main"))
      .filter(p => Files.readString(p).contains("graft_stores")).map(_.getFileName.toString)
    assert(named == Seq("GenStore.scala"), s"graft_stores named outside GenStore: $named")
  }
}
