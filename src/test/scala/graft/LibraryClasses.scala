package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every compiled class under the `graft` package of the library's class
  * directory, loaded without initialisation — what the reflection suites
  * walk. */
object LibraryClasses {

  lazy val all: List[Class[_]] = {
    val root = Paths.get(classOf[UnpersistHandle].getProtectionDomain.getCodeSource.getLocation.toURI)
    require(Files.isDirectory(root.resolve("graft")), s"$root holds no compiled graft package")
    val files = Files.walk(root.resolve("graft"))
    val names =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".class"))
        .map(p => root.relativize(p).toString.stripSuffix(".class").replace(java.io.File.separatorChar, '.'))
        .toList
      finally files.close()
    val loader = getClass.getClassLoader
    names.map(Class.forName(_, false, loader))
  }
}
