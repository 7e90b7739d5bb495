package graft

import org.scalatest.funsuite.AnyFunSuite

import java.lang.reflect.Modifier
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The library's entry points: every compiled class under `graft` with a
  * public static `main(Array[String])`. A scratch main added to the
  * library shows up here and fails the suite. */
class MainsSuite extends AnyFunSuite {

  test("the library ships exactly the five mains") {
    val root = Paths.get(classOf[UnpersistHandle].getProtectionDomain.getCodeSource.getLocation.toURI)
    assert(Files.isDirectory(root.resolve("graft")), s"$root holds no compiled graft package")
    val classNames = {
      val files = Files.walk(root.resolve("graft"))
      try files.iterator().asScala
        .filter(_.toString.endsWith(".class"))
        .map(p => root.relativize(p).toString.stripSuffix(".class").replace(java.io.File.separatorChar, '.'))
        .toList
      finally files.close()
    }
    assert(classNames.size > 100, s"only ${classNames.size} classes found under $root")
    val loader = getClass.getClassLoader
    val mains = classNames.filter { name =>
      Class.forName(name, false, loader).getMethods.exists { m =>
        m.getName == "main" && Modifier.isStatic(m.getModifiers) && Modifier.isPublic(m.getModifiers) &&
          m.getParameterTypes.sameElements(Array[Class[_]](classOf[Array[String]]))
      }
    }.toSet
    assert(mains == Set("graft.Bench", "graft.Verify", "graft.ScaleProbe", "graft.PlanDump",
      "graft.app.DiffApp"))
  }
}
