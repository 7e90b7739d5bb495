package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The library caches its internal intermediates at one level. A storage
  * level is part of the contract of `withRowNumbers` alone (the persist
  * that pins its partition ids), so a `StorageLevel` parameter anywhere
  * else in the compiled `graft` classes is a knob this suite rejects. */
class CachePolicySuite extends AnyFunSuite {

  /** Classes whose `withRowNumbers*` methods (the reference entry point,
    * its Dataset extension and its Python bridge) take a storage level. */
  private val rowNumberClasses = Set(
    "graft.RowNumbers", "graft.RowNumbers$",
    "graft.package$ExtendedDataset", "graft.package$ExtendedDataset$",
    "graft.python.PyBridge", "graft.python.PyBridge$")

  test("only withRowNumbers takes a StorageLevel") {
    val taking = for {
      c <- LibraryClasses.all
      m <- c.getDeclaredMethods.toList ++ c.getDeclaredConstructors.toList
      if m.getParameterTypes.contains(classOf[StorageLevel])
    } yield (c.getName, m.getName)
    val (rowNumbers, others) = taking.partition { case (cls, method) =>
      rowNumberClasses.contains(cls) && method.startsWith("withRowNumbers")
    }
    assert(others.isEmpty, "StorageLevel parameters outside withRowNumbers")
    assert(rowNumbers.map(_._1).toSet == rowNumberClasses,
      s"the reference entry points lost their StorageLevel parameter: $rowNumbers")
  }

  test("joinSizeEstimate takes no UnpersistHandle") {
    val methods = graft.dedup.CorpusOverlap.getClass.getDeclaredMethods
      .filter(_.getName == "joinSizeEstimate")
    assert(methods.nonEmpty)
    methods.foreach(m => assert(!m.getParameterTypes.contains(classOf[UnpersistHandle]),
      m.toString))
  }
}
