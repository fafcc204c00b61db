package exportbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LcmBatchFiles

/** The benchmark must see a hole in the datastore tree: the export read path
  * skips an absent object without a signal, so only the benchmark's own
  * checks and source counts can report it. */
class MissingObjectSpec extends AnyFunSuite {

  private val seed = 7L
  private val sizes = TreeGen.Sizes(classicLedgers = 24, classicTxs = 4)
  private val workload = ExportBench.workload("ledgers_parquet")

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    } finally s.close()
  }

  private def traced(work: Path): ExportBench.Result =
    ExportBench.run(ExportBench.Opts(workload, seed, seconds = 0, trace = true,
      work = work, warmups = 0))

  test("a mid-range object deleted from a copy of the tree fails the run " +
      "and is counted as missing") {
    Files.createDirectories(Paths.get("target"))
    val root = Files.createTempDirectory(Paths.get("target").toAbsolutePath, "spec")
    try {
      val intactWork = root.resolve("intact")
      TreeGen.write(workload, seed, intactWork, sizes)
      val intact = traced(intactWork)
      assert(intact.correct)
      assert(intact("failed_ratio") == 0.0)
      assert(intact("sources.objects_missing") == 0.0)
      assert(intact("sources.objects") == sizes.classicLedgers.toDouble)

      val mid = TreeGen.startSeq(seed) + sizes.classicLedgers / 2
      val holedWork = root.resolve("holed")
      copyTree(intactWork, holedWork)
      Files.delete(TreeGen.treeDir(holedWork).resolve(LcmBatchFiles.objectKey(mid)))
      val holed = traced(holedWork)
      assert(!holed.correct)
      assert(holed("failed_ratio") > 0.0)
      assert(holed("sources.objects_missing") == 1.0)
      assert(holed("sources.objects") == sizes.classicLedgers - 1.0)
    } finally ExportBench.deleteTree(root)
  }
}
