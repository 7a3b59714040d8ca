package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.scalatest.funsuite.AnyFunSuite

/** Ratchet on the kernels that leave whole-stage codegen: every `graft.plans`
  * expression that mixes in `CodegenFallback` breaks its operator out of
  * WSCG and runs its children interpreted (ROADMAP, "Kernel rule"). Every
  * concrete class counts, whether it mixes `CodegenFallback` in itself or
  * through a base class or trait; only subclasses of Spark's
  * `ImperativeAggregate` (the `TypedImperativeAggregate` kernels), which
  * carry it as every imperative aggregate does, are left out. The count may
  * only fall; lower `MaxFallbackKernels` when a kernel gains real codegen or
  * is deleted. */
class KernelRuleSpec extends AnyFunSuite {

  private val MaxFallbackKernels = 23

  /** Every class compiled into the `graft.plans` package (read from the
    * class directory the build puts on the test classpath). */
  private def plansClasses: Seq[Class[_]] = {
    val dir = Paths.get(classOf[graft.plans.CosineSimilarityExpr]
      .getProtectionDomain.getCodeSource.getLocation.toURI).resolve("graft/plans")
    Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".class")).toSeq.sorted
      .map(f => Class.forName("graft.plans." + f.stripSuffix(".class"), false, getClass.getClassLoader))
  }

  test(s"at most $MaxFallbackKernels graft.plans kernels mix in CodegenFallback") {
    val classes = plansClasses
    assert(classes.contains(classOf[graft.plans.CosineSimilarityExpr]), "graft.plans classes not found")
    val fallback = classes
      .filter(c => !c.isInterface && !Modifier.isAbstract(c.getModifiers))
      .filter(c => classOf[CodegenFallback].isAssignableFrom(c) &&
        !classOf[ImperativeAggregate].isAssignableFrom(c))
      .map(_.getSimpleName)
    assert(fallback.size <= MaxFallbackKernels,
      s"${fallback.size} graft.plans kernels mix in CodegenFallback " +
        s"(at most $MaxFallbackKernels): ${fallback.mkString(", ")}")
  }
}
