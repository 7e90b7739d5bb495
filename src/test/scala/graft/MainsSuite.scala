package graft

import org.scalatest.funsuite.AnyFunSuite

import java.lang.reflect.Modifier

/** The library's entry points: every compiled class under `graft` with a
  * public static `main(Array[String])`. A scratch main added to the
  * library shows up here and fails the suite. */
class MainsSuite extends AnyFunSuite {

  test("the library ships exactly the five mains") {
    val classes = LibraryClasses.all
    assert(classes.size > 100, s"only ${classes.size} classes found")
    val mains = classes.filter { c =>
      c.getMethods.exists { m =>
        m.getName == "main" && Modifier.isStatic(m.getModifiers) && Modifier.isPublic(m.getModifiers) &&
          m.getParameterTypes.sameElements(Array[Class[_]](classOf[Array[String]]))
      }
    }.map(_.getName).toSet
    assert(mains == Set("graft.Bench", "graft.Verify", "graft.ScaleProbe", "graft.PlanDump",
      "graft.app.DiffApp"))
  }
}
