package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree.{ClassNode, FieldInsnNode,
  InvokeDynamicInsnNode, MethodInsnNode, MethodNode, TypeInsnNode}
import org.scalatest.funsuite.AnyFunSuite

/** Lint for the entry-point design: one session factory, a fixed set of
  * mains, nothing in `src/main` that the mains cannot reach, and no
  * mutable collection held per JVM.
  * `SparkSession.builder` may appear only in [[LocalSession]], so every
  * entry point runs the same configuration, and `def main` only in the
  * timing, correctness, smoke and daemon mains (`Bench`, `Verify`,
  * `EntrySmoke`, `Serve`) plus the one dev main, `Probe`. A new dev tool is a `Probe`
  * mode, not another copy of the session setup; a new capability is wired
  * to a main (a registry key, a `Serve` path) or it does not land.
  */
class EntryPointLintSpec extends AnyFunSuite {

  private val root = Paths.get("src", "main", "scala")

  private def sources: Seq[(String, String)] = {
    require(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => root.relativize(p).toString.replace('\\', '/') ->
        Files.readString(p))
    finally walk.close()
  }

  private def offenders(pattern: String, allowed: Set[String]): Seq[String] =
    sources.collect {
      case (f, text) if pattern.r.findFirstIn(text).isDefined &&
        !allowed(f) => f
    }.sorted

  test("SparkSession.builder appears only in LocalSession") {
    val all = sources
    assert(all.exists(_._1 == "graft/LocalSession.scala"))
    assert(offenders("""SparkSession\s*\.\s*builder""",
      Set("graft/LocalSession.scala")) === Nil)
  }

  test("def main appears only in the driver, daemon and probe entry points") {
    val entryPoints = Set("graft/Bench.scala", "graft/Verify.scala",
      "graft/EntrySmoke.scala", "graft/ingest/Serve.scala", "graft/Probe.scala")
    assert(offenders("""\bdef\s+main\s*\(""", entryPoints) === Nil)
    assert(entryPoints.forall(f => sources.exists(_._1 == f)),
      "an allowed entry point moved; update the list")
  }

  // ---- reachability over the compiled main classes -------------------------

  private val mains = Seq("graft/Bench", "graft/Verify", "graft/EntrySmoke",
    "graft/ingest/Serve", "graft/Probe")

  /** Every class compiled from `src/main`, by internal name. */
  private lazy val classes: Map[String, ClassNode] = {
    // the mirror class of `object Bench`, loaded without initializing it
    val dir = Paths.get(Class.forName("graft.Bench", false, getClass.getClassLoader)
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    require(Files.isDirectory(dir), s"main classes are not a directory: $dir")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".class")).map { p =>
      val node = new ClassNode()
      new ClassReader(Files.readAllBytes(p))
        .accept(node, ClassReader.SKIP_FRAMES | ClassReader.SKIP_DEBUG)
      node.name -> node
    }.toMap
    finally walk.close()
  }

  private def supers(c: ClassNode): Seq[String] =
    Option(c.superName).toSeq ++ c.interfaces.asScala

  /** `name` and all its supertypes; the walk stops at library classes. */
  private def hierarchy(name: String): Seq[String] =
    name +: classes.get(name).toSeq.flatMap(supers).flatMap(hierarchy)

  /** Names of the methods a library class or its supertypes declare: the
    * calls library code (Catalyst, the scheduler, a listener bus) can make
    * into a project subclass.
    */
  private def libraryMethodNames(name: String): Set[String] =
    try {
      def all(k: Class[_]): Seq[Class[_]] =
        k +: (Option(k.getSuperclass).toSeq ++ k.getInterfaces).flatMap(all)
      all(Class.forName(name.replace('/', '.'), false, getClass.getClassLoader))
        .flatMap(_.getDeclaredMethods.map(_.getName)).toSet
    } catch { case _: ClassNotFoundException | _: LinkageError => Set.empty }

  /** (class, name + descriptor) of every method reachable from `roots`.
    *
    * A reached method's body adds its edges: the methods it calls (resolved
    * up the project hierarchy, and for a virtual call on a project type to
    * every project subtype's override), the static initializer of a class it
    * instantiates or whose static members it touches, and the method
    * handles of its `invokedynamic` sites (lambdas). A class whose
    * constructor is reached may be called back by library code, so its
    * methods that override a library method are reached too.
    */
  private def reachedMethods(roots: Seq[(String, String)]): Set[(String, String)] = {
    val methods: Map[String, Map[String, MethodNode]] = classes.map {
      case (n, c) => n -> c.methods.asScala.map(m => (m.name + m.desc) -> m).toMap
    }
    val subtypes = classes.values.toSeq.flatMap(c => supers(c).map(_ -> c.name))
      .groupMap(_._1)(_._2)
    val belowMemo = mutable.Map.empty[String, Seq[String]]
    def below(n: String): Seq[String] = belowMemo.getOrElseUpdate(n,
      subtypes.getOrElse(n, Nil).flatMap(s => s +: below(s)).distinct)
    val reached = mutable.Set.empty[(String, String)]
    val instantiated = mutable.Set.empty[String]
    val todo = mutable.Stack.empty[(String, String)]
    def reach(owner: String, sig: String): Unit =
      if (methods.get(owner).exists(_.contains(sig)) && reached.add(owner -> sig))
        todo.push(owner -> sig)
    def resolve(owner: String, sig: String): Unit =
      if (methods.get(owner).exists(_.contains(sig))) reach(owner, sig)
      else classes.get(owner).foreach(c => supers(c).foreach(resolve(_, sig)))
    // a virtual call on a library type reaches project overrides only
    // through `instantiate`
    def call(owner: String, sig: String, virtual: Boolean): Unit = {
      resolve(owner, sig)
      if (virtual && classes.contains(owner)) below(owner).foreach(reach(_, sig))
    }
    def initialize(owner: String): Unit = {
      reach(owner, "<clinit>()V")
      classes.get(owner).flatMap(c => Option(c.superName)).foreach(initialize)
    }
    def instantiate(c: String): Unit = if (instantiated.add(c)) {
      val h = hierarchy(c)
      val overridable = h.filterNot(classes.contains)
        .flatMap(libraryMethodNames).toSet
      for (a <- h; ms <- methods.get(a).toSeq; (sig, m) <- ms
           if (m.access & Opcodes.ACC_STATIC) == 0 && overridable(m.name))
        reach(a, sig)
    }
    roots.foreach { case (owner, sig) => reach(owner, sig) }
    while (todo.nonEmpty) {
      val (owner, sig) = todo.pop()
      if (sig.startsWith("<init>")) instantiate(owner)
      initialize(owner)
      methods(owner)(sig).instructions.iterator.asScala.foreach {
        case i: MethodInsnNode =>
          if (i.getOpcode == Opcodes.INVOKESTATIC) initialize(i.owner)
          call(i.owner, i.name + i.desc, i.getOpcode == Opcodes.INVOKEVIRTUAL ||
            i.getOpcode == Opcodes.INVOKEINTERFACE)
        case i: FieldInsnNode if i.getOpcode == Opcodes.GETSTATIC ||
            i.getOpcode == Opcodes.PUTSTATIC => initialize(i.owner)
        case i: TypeInsnNode if i.getOpcode == Opcodes.NEW => initialize(i.desc)
        case i: InvokeDynamicInsnNode =>
          (i.bsm +: i.bsmArgs.toSeq).foreach {
            case h: Handle => call(h.getOwner, h.getName + h.getDesc,
              h.getTag == Opcodes.H_INVOKEVIRTUAL ||
                h.getTag == Opcodes.H_INVOKEINTERFACE)
            case _ => ()
          }
        case _ => ()
      }
    }
    reached.toSet
  }

  /** Whether a main class is a `scala.Product`: a case class, or one of
    * its library supertypes (a Catalyst node) makes it one.
    */
  private def isProduct(name: String): Boolean =
    try classOf[Product].isAssignableFrom(
      Class.forName(name.replace('/', '.'), false, getClass.getClassLoader))
    catch { case _: ClassNotFoundException | _: LinkageError => false }

  /** Members the compiler writes, which no source line can delete: bridges
    * and synthetic members, lambda bodies, default-argument getters, type-tag
    * creators, the static forwarders of an object's mirror class, and the
    * synthetics of a case class and of its companion (whose constructor runs
    * only when a synthetic is called).
    */
  private def compilerMade(c: ClassNode, m: MethodNode): Boolean = {
    val caseSynthetics = Set("copy", "canEqual", "equals", "hashCode",
      "toString", "apply", "unapply", "readResolve", "writeReplace")
    val base = c.name.stripSuffix("$")
    val companion = c.name.endsWith("$") && isProduct(base)
    (m.access & (Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE)) != 0 ||
      Seq("$anonfun$", "$default$").exists(m.name.contains) ||
      c.name.contains("$typecreator") ||
      ((m.access & Opcodes.ACC_STATIC) != 0 && classes.contains(c.name + "$")) ||
      ((companion || isProduct(c.name)) &&
        (m.name.startsWith("product") || caseSynthetics(m.name))) ||
      (companion && m.name.startsWith("<"))
  }

  /** `Owner.method` as a reader names it: objects and nested classes lose
    * their `$` marks.
    */
  private def sourceName(cls: String, method: String): String =
    cls.stripSuffix("$").replace('/', '.').replace('$', '.') + "." + method

  test("every method in src/main is reachable from the five mains") {
    // the one entry point a main does not call: Spark instantiates it from
    // the `spark.sql.extensions` conf string
    val confOnly = Seq("graft/functions/GraftExtensions")
    (mains ++ confOnly).foreach(m =>
      assert(classes.contains(m), s"$m moved; update the roots"))
    // the only methods tests may reach alone: setters of fault-injection
    // seams that production code reads but never sets
    val seams = Map(
      "graft.ingest.GhaPipeline.chaosHook_$eq" ->
        "crash-window tests throw from a named point of the tick",
      "graft.store.TableStore.beforeCommitHook_$eq" ->
        "concurrent-writer tests act between a write and its commit")
    val reached = reachedMethods(
      mains.map(_ -> "main([Ljava/lang/String;)V") ++
        confOnly.map(_ -> "<init>()V"))
    val unreached = (for {
      c <- classes.values
      m <- c.methods.asScala
      if !reached(c.name -> (m.name + m.desc)) && !compilerMade(c, m)
    } yield sourceName(c.name, m.name)).toSeq.distinct.sorted
    assert(seams.keys.forall(unreached.contains),
      "a test seam is reached or gone; update the list")
    assert(unreached.filterNot(seams.contains) === Nil,
      "reached from no main: wire it to one, move it to src/test or delete it")
  }

  // ---- no per-JVM mutable state ---------------------------------------------

  /** Whether a field of this type can hold mutable shared state: a
    * `java.util` map or collection, any `java.util.concurrent` type, or a
    * Scala mutable or concurrent collection.
    */
  private def mutableCollection(desc: String): Boolean = {
    val t = Type.getType(desc)
    t.getSort == Type.OBJECT && {
      val n = t.getClassName
      def javaCollection = try {
        val k = Class.forName(n, false, getClass.getClassLoader)
        classOf[java.util.Map[_, _]].isAssignableFrom(k) ||
          classOf[java.util.Collection[_]].isAssignableFrom(k)
      } catch { case _: ClassNotFoundException | _: LinkageError => false }
      Seq("java.util.concurrent.", "scala.collection.mutable.",
        "scala.collection.concurrent.").exists(n.startsWith) ||
        (n.startsWith("java.util.") && javaCollection)
    }
  }

  test("no object or static field holds a mutable collection") {
    // a static field, or any field of an object's `X$` module class, lives
    // as long as the JVM: state kept there outlives the session and the
    // data it was built from. Per-instance fields of classes are fine.
    val held = (for {
      c <- classes.values
      f <- c.fields.asScala
      if ((f.access & Opcodes.ACC_STATIC) != 0 || c.name.endsWith("$")) &&
        mutableCollection(f.desc)
    } yield sourceName(c.name, f.name)).toSeq.distinct.sorted
    assert(held === Nil,
      "per-JVM mutable state: keep it in a class instance or build it per call")
  }
}
