package etlbench

import java.nio.file.{Files, Path, Paths}
import javassist.{ClassPool, CtMethod}
import javassist.expr.{ExprEditor, MethodCall}

/** Post-processes the engine build:
  * `Instrument <classesDir> <outDir> <sparkJarsDir> <demoBase>`.
  *
  * First it points `Pipelines.demoRoot`, which hard-codes an absolute
  * scratch directory for the memoized demo stores, at `demoBase`, so a run
  * writes only inside its own work directory. Then it builds the traced copy
  * of the engine's layer classes.
  *
  * Each listed method gets `Span.enter(name)` on entry and `Span.exit()` on
  * every exit, exceptions included; `compactDates` also records its
  * (files before, files after) return value. The rewritten classes go to
  * `outDir`, which the traced JVM puts ahead of the plain build, so the
  * untraced runs execute the engine's bytecode unchanged. A listed method
  * the engine no longer has is reported and skipped.
  */
object Instrument {
  private val spanClass = "org.apache.spark.etlbench.Span"

  /** (class, method, span name, record the return value). */
  val targets: Seq[(String, String, String, Boolean)] = Seq(
    ("graft.ingest.GhaPipeline$", "incrementalRunWithViews", "pipeline", false),
    ("graft.ingest.GhaPipeline$", "ingestWith", "ingest", false),
    ("graft.ingest.GhaPipeline$", "compactTouched", "compact", false),
    ("graft.ingest.IncrementalViews$", "maintainTick", "views.maintain", false),
    ("graft.ingest.IncrementalViews$", "queryData", "views.query", false),
    ("graft.store.TableStore$", "overwrite", "store.overwrite", false),
    ("graft.store.TableStore$", "compactDates", "store.compact_dates", true))

  private def wrap(m: CtMethod, name: String, keepResult: Boolean): Unit = {
    m.insertBefore(s"""$spanClass.enter("$name");""")
    if (keepResult) m.insertAfter(s"$spanClass.result((Object) ($$w) $$_);")
    m.insertAfter(s"$spanClass.exit();", true)
  }

  /** The lambda inside `incrementalRunWithViews` that folds the batch into
    * the views and collects the touched dates: the callback whose body
    * calls `maintainTick`.
    */
  private def touchedLambda(ms: Seq[CtMethod]): Seq[CtMethod] =
    ms.filter(_.getName.startsWith("$anonfun$incrementalRunWithViews"))
      .filter { m =>
        var calls = false
        m.instrument(new ExprEditor {
          override def edit(c: MethodCall): Unit =
            if (c.getMethodName == "maintainTick") calls = true
        })
        calls
      }

  /** Rewrite the absolute path constants `demoRoot` loads, in place. */
  def relocateDemoRoot(classes: String, demoBase: String): Unit = {
    import javassist.bytecode.{ClassFile, ConstPool, Opcode}
    val f = Paths.get(classes, "graft", "query", "Pipelines$.class")
    if (!Files.exists(f)) return
    val bytes = Files.readAllBytes(f)
    val cf = new ClassFile(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    val m = cf.getMethod("demoRoot")
    if (m == null) return
    val cp = cf.getConstPool
    val it = m.getCodeAttribute.iterator()
    val paths = scala.collection.mutable.LinkedHashSet.empty[String]
    while (it.hasNext) {
      val i = it.next()
      val idx = it.byteAt(i) match {
        case Opcode.LDC => it.byteAt(i + 1)
        case Opcode.LDC_W => it.u16bitAt(i + 1)
        case _ => -1
      }
      if (idx > 0 && cp.getTag(idx) == ConstPool.CONST_String &&
          cp.getStringInfo(idx).startsWith("/"))
        paths += cp.getStringInfo(idx)
    }
    def utf8(s: String): Array[Byte] = {
      val b = s.getBytes("UTF-8")
      Array[Byte](1, (b.length >> 8).toByte, b.length.toByte) ++ b
    }
    val patched = paths.foldLeft(bytes) { (b, p) =>
      val (from, to) = (utf8(p), utf8(demoBase))
      val at = b.indexOfSlice(from)
      if (at < 0) b else b.take(at) ++ to ++ b.drop(at + from.length)
    }
    Files.write(f, patched)
  }

  def main(args: Array[String]): Unit = {
    val Array(classes, out, jars, demoBase) = args
    relocateDemoRoot(classes, demoBase)
    val pool = new ClassPool(true)
    pool.appendClassPath(classes)
    pool.appendClassPath(s"$jars/*")
    Option(getClass.getProtectionDomain.getCodeSource)
      .foreach(cs => pool.appendClassPath(Paths.get(cs.getLocation.toURI).toString))
    for ((cls, group) <- targets.groupBy(_._1).toSeq.sortBy(_._1)) {
      val ct = pool.get(cls)
      val methods = ct.getDeclaredMethods.toSeq
      for ((_, meth, name, keep) <- group) {
        val ms = methods.filter(_.getName == meth)
        if (ms.isEmpty) System.err.println(s"[instrument] $cls.$meth not found")
        ms.foreach(wrap(_, name, keep))
      }
      if (cls == "graft.ingest.GhaPipeline$")
        touchedLambda(methods).foreach(wrap(_, "pipeline.touched", false))
      ct.writeFile(out)
    }
  }
}
