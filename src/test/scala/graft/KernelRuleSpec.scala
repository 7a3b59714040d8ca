package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.scalatest.funsuite.AnyFunSuite

/** Every native kernel generates code: a `graft.plans` expression that
  * mixes in `CodegenFallback` breaks its operator out of whole-stage codegen
  * and runs its children interpreted (ROADMAP, "Kernel rule"), so a kernel
  * mixes in [[graft.plans.KernelCodegen]] instead. Every concrete class
  * counts, whether it carries `CodegenFallback` itself or through a base
  * class or trait; only subclasses of Spark's `ImperativeAggregate` (the
  * `TypedImperativeAggregate` kernels), which carry it as every imperative
  * aggregate does, are left out. */
class KernelRuleSpec extends AnyFunSuite {

  /** Every class compiled into the `graft.plans` package (read from the
    * class directory the build puts on the test classpath). */
  private def plansClasses: Seq[Class[_]] = {
    val dir = Paths.get(classOf[graft.plans.CosineSimilarityExpr]
      .getProtectionDomain.getCodeSource.getLocation.toURI).resolve("graft/plans")
    Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".class")).toSeq.sorted
      .map(f => Class.forName("graft.plans." + f.stripSuffix(".class"), false, getClass.getClassLoader))
  }

  test("no graft.plans kernel is a CodegenFallback") {
    val classes = plansClasses
    assert(classes.contains(classOf[graft.plans.CosineSimilarityExpr]), "graft.plans classes not found")
    val fallback = classes
      .filter(c => !c.isInterface && !Modifier.isAbstract(c.getModifiers))
      .filter(c => classOf[CodegenFallback].isAssignableFrom(c) &&
        !classOf[ImperativeAggregate].isAssignableFrom(c))
      .map(_.getSimpleName)
    assert(fallback.isEmpty, s"graft.plans kernels on CodegenFallback: ${fallback.mkString(", ")}")
  }
}
