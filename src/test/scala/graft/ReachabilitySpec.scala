package graft

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps code that no declared path runs out of `src/main`: every method
  * compiled from `src/main` must be reached from a declared entry, or sit
  * on the short allowlist of test seams below. */
class ReachabilitySpec extends AnyFunSuite {

  /** Methods only specs use, each with the reason it stays in `src/main`.
    * Keys are `<class>.<method>` as [[Reachability]] names them. */
  private val allowed = Map(
    "org.apache.spark.sql.graft.dsv2.GdfMaintenance.lastDeleteRegime" ->
      "specs read which delete regime the last applyChanges took",
    "org.apache.spark.sql.graft.dsv2.GdfMaintenance.lastMergeRegime" ->
      "specs read which merge regime the last mergeInto took",
    "org.apache.spark.sql.graft.dsv2.GdfMaterializedView.DirtyGroupGate_$eq" ->
      "GdfMvSpec lowers the dirty-group gate to force the full refresh")

  private lazy val unreached = Reachability.unreached(Reachability.mainOutput)

  test("every method in src/main is reached from a declared entry") {
    val bad = unreached.filterNot(u => allowed.contains(u.name))
    assert(bad.isEmpty, bad.map(u => s"\n  ${u.where} ${u.name}").mkString(
      s"${bad.size} methods in src/main that no declared entry reaches:", "", ""))
  }

  test("every allowlisted test seam still exists and is still unreached") {
    val stale = allowed.keySet -- unreached.map(_.name)
    assert(stale.isEmpty, s"drop from the allowlist: ${stale.mkString(", ")}")
  }

  test("the scan sees a method that nothing calls") {
    val dir = Files.createTempDirectory("reach").toFile
    try {
      // a copy of the main classes plus one object whose method nothing calls
      org.apache.commons.io.FileUtils.copyDirectory(Reachability.mainOutput, dir)
      val orphan = new File(dir, "graft/ReachProbe$.class")
      Files.write(orphan.toPath, Reachability.probeClass("graft/ReachProbe$"))
      assert(Reachability.unreached(dir).map(_.name)
        .contains("graft.ReachProbe.unused"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}

/** A method-level reachability scan of compiled classes, on the ASM copy
  * that Spark ships.
  *
  * Roots: `SparkEntry`; every `main`; what the benchmark harness calls
  * (`Pipeline.start`/`run`, `EtlFixtures.write`, `Warehouse.tables`/
  * `rebuild`, `IndexStore.bypassRead`); the `META-INF/services` classes;
  * and `GraftExtensions`, the `spark.sql.extensions` entry point. From a
  * reached method:
  *  - a static or special call reaches its target, a virtual or interface
  *    call every override in a subclass too;
  *  - `invokedynamic` reaches the lambda body its bootstrap arguments name;
  *  - `new`, a class literal or a class name in a string constant
  *    instantiates the class. Every public instance method of an
  *    instantiated class with a supertype outside `src/main` (other than
  *    `Object` and `Serializable`) counts as reached: Spark and the JDK
  *    call those. Overrides of `Object`'s methods count as reached too.
  * Members the compiler generates are not reported: synthetic and bridge
  * methods, static forwarders, lambda bodies (their enclosing method is),
  * case-class `copy$default$*` and `product*` members, specialized
  * `apply$mc…$sp`, and getters of constants that scalac inlines. */
object Reachability {

  final case class Unreached(name: String, where: String)

  /** The main output directory: where `SparkEntry` was loaded from. */
  def mainOutput: File = {
    val f = new File(SparkEntry.getClass.getProtectionDomain.getCodeSource
      .getLocation.toURI)
    require(f.isDirectory, s"main classes are not a directory: $f")
    f
  }

  private final case class M(owner: String, name: String, desc: String)

  private val Perfbench = Seq(
    "graft/etl/Pipeline$" -> Set("start", "run"),
    "graft/etl/EtlFixtures$" -> Set("write"),
    "graft/warehouse/Warehouse$" -> Set("tables", "rebuild"),
    "graft/IndexStore$" -> Set("bypassRead", "bypassRead_$eq"))

  private val Markers = Set("java/lang/Object", "java/io/Serializable")

  private val ObjectMethods = Set("toString()Ljava/lang/String;",
    "hashCode()I", "equals(Ljava/lang/Object;)Z")

  def unreached(out: File): Seq[Unreached] = {
    val classes: Map[String, ClassNode] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".class")) Seq(f) else Nil
      walk(out).map { f =>
        val n = new ClassNode()
        new ClassReader(Files.readAllBytes(f.toPath)).accept(n, ClassReader.SKIP_FRAMES)
        n.name -> n
      }.toMap
    }
    def methods(c: String): Seq[MethodNode] =
      classes.get(c).map(_.methods.asScala.toSeq).getOrElse(Nil)
    def declares(c: String, name: String, desc: String): Option[MethodNode] =
      methods(c).find(m => m.name == name && m.desc == desc)
    def parents(c: String): Seq[String] = classes.get(c).toSeq.flatMap(n =>
      Option(n.superName).toSeq ++ n.interfaces.asScala)
    val ancestors = mutable.Map[String, Set[String]]()
    def ancestorsOf(c: String): Set[String] = ancestors.getOrElseUpdate(c,
      parents(c).toSet.flatMap((p: String) => ancestorsOf(p) + p))
    val subclasses: Map[String, Seq[String]] = classes.keys.toSeq
      .flatMap(c => ancestorsOf(c).map(_ -> c)).groupMap(_._1)(_._2)
    def external(c: String) = !classes.contains(c)
    def caseClass(c: String) = declares(c, "productArity", "()I").isDefined
    /** Scala's name for a class (`a.b.Outer.Inner`), as type tags and
      * reflection name it in string constants. */
    val byScalaName: Map[String, Seq[String]] = classes.keys.toSeq
      .groupBy(_.replace('/', '.').replace('$', '.').stripSuffix("."))

    val reached = mutable.Set[M]()
    val instantiated = mutable.Set[String]()
    val initialized = mutable.Set[String]()
    val queue = mutable.Queue[MethodNode]()

    def mark(c: String, m: MethodNode): Unit =
      if (reached.add(M(c, m.name, m.desc))) queue += m
    /** The declaration a call on `c` binds to: `c` itself, else the
      * nearest superclass, else an interface. */
    def resolve(c: String, name: String, desc: String): Unit = {
      val chain = Iterator.iterate(Option(c))(_.flatMap(x =>
        classes.get(x).flatMap(n => Option(n.superName)))).takeWhile(_.isDefined)
        .flatten.toSeq
      chain.iterator.flatMap(x => declares(x, name, desc).map(x -> _)).nextOption()
        .orElse(ancestorsOf(c).iterator.flatMap(x =>
          declares(x, name, desc).map(x -> _)).nextOption())
        .foreach { case (x, m) => mark(x, m) }
    }
    def virtual(c: String, name: String, desc: String): Unit = {
      resolve(c, name, desc)
      subclasses.getOrElse(c, Nil).foreach(s =>
        declares(s, name, desc).foreach(mark(s, _)))
    }
    def initialize(c: String): Unit =
      if (!external(c) && initialized.add(c)) {
        declares(c, "<clinit>", "()V").foreach(mark(c, _))
        parents(c).foreach(initialize)
      }
    def instantiate(c: String): Unit =
      if (!external(c) && instantiated.add(c)) {
        initialize(c)
        val chain = (ancestorsOf(c) + c).filterNot(external)
        val callbacks = (ancestorsOf(c) -- Markers).exists(external)
        for (x <- chain; m <- methods(x)
             if (m.access & (Opcodes.ACC_PUBLIC | Opcodes.ACC_STATIC)) == Opcodes.ACC_PUBLIC &&
               m.name != "<init>" &&
               (callbacks || ObjectMethods(m.name + m.desc)))
          mark(x, m)
      }
    /** Reflection builds these: every constructor, and the class. */
    def reflect(c: String): Unit =
      if (!external(c)) {
        instantiate(c)
        methods(c).filter(_.name == "<init>").foreach(mark(c, _))
      }

    // roots
    classes.keys.filter(_.startsWith("graft/SparkEntry")).foreach { c =>
      initialize(c); methods(c).foreach(mark(c, _))
    }
    for (c <- classes.keys; m <- declares(c, "main", "([Ljava/lang/String;)V")) {
      initialize(c); mark(c, m)
    }
    for ((c, names) <- Perfbench; m <- methods(c) if names(m.name)) {
      initialize(c); mark(c, m)
    }
    Option(new File(out, "META-INF/services").listFiles()).toSeq.flatten
      .flatMap(f => scala.io.Source.fromFile(f).getLines().map(_.trim))
      .filter(_.nonEmpty).foreach(n => reflect(n.replace('.', '/')))
    reflect("org/apache/spark/sql/graft/GraftExtensions")

    def handle(h: Handle): Unit =
      if (h.getTag == Opcodes.H_INVOKEVIRTUAL || h.getTag == Opcodes.H_INVOKEINTERFACE)
        virtual(h.getOwner, h.getName, h.getDesc)
      else {
        initialize(h.getOwner)
        resolve(h.getOwner, h.getName, h.getDesc)
      }
    def constant(v: Any): Unit = v match {
      case t: Type if t.getSort == Type.OBJECT => reflect(t.getInternalName)
      case s: String =>
        reflect(s.replace('.', '/'))
        byScalaName.getOrElse(s, Nil).foreach(reflect)
      case h: Handle => handle(h)
      case _ => ()
    }
    while (queue.nonEmpty) {
      val m = queue.dequeue()
      Option(m.instructions).foreach(_.iterator().asScala.foreach {
        case i: MethodInsnNode => i.getOpcode match {
          case Opcodes.INVOKEVIRTUAL | Opcodes.INVOKEINTERFACE =>
            virtual(i.owner, i.name, i.desc)
          case op =>
            if (op == Opcodes.INVOKESTATIC) initialize(i.owner)
            resolve(i.owner, i.name, i.desc)
        }
        case i: TypeInsnNode if i.getOpcode == Opcodes.NEW => instantiate(i.desc)
        case i: FieldInsnNode
            if i.getOpcode == Opcodes.GETSTATIC || i.getOpcode == Opcodes.PUTSTATIC =>
          initialize(i.owner)
        case i: LdcInsnNode => constant(i.cst)
        case i: InvokeDynamicInsnNode => i.bsmArgs.foreach(constant)
        case _ => ()
      })
    }

    // report
    val sources: Map[String, Seq[String]] = {
      val root = new File("src/main/scala")
      def walk(f: File): Seq[File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      (if (root.isDirectory) walk(root) else Nil)
        .map(_.getPath).groupBy(p => new File(p).getName)
    }
    def where(c: ClassNode, m: MethodNode): String = {
      val pkg = c.name.take(c.name.lastIndexOf('/') + 1)
      val file = Option(c.sourceFile).getOrElse("?")
      val path = sources.getOrElse(file, Nil).sortBy(p => !p.contains(s"/$pkg"))
        .headOption.getOrElse(s"src/main/scala/$pkg$file")
      val line = Option(m.instructions).toSeq.flatMap(_.iterator().asScala.collect {
        case l: LineNumberNode => l.line
      }).minOption.fold("?")(_.toString)
      s"$path:$line"
    }
    def generated(c: ClassNode, m: MethodNode): Boolean = {
      val product = caseClass(c.name)
      val companion = c.name.endsWith("$") && caseClass(c.name.stripSuffix("$"))
      val self = s"L${c.name.stripSuffix("$")};"
      (m.access & (Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE |
        Opcodes.ACC_ABSTRACT | Opcodes.ACC_NATIVE)) != 0 ||
      m.name == "<clinit>" || m.name == "$deserializeLambda$" ||
      m.name.contains("$anonfun$") || m.name.endsWith("$adapted") ||
      m.name.endsWith("$lzycompute") || m.name == "$init$" ||
      (m.name.matches(".*\\$\\d+") && !m.name.contains("$default$")) ||
      m.name == "writeReplace" || m.name == "readResolve" ||
      m.name.matches("apply\\$mc.*\\$sp") || m.name.startsWith("copy$default$") ||
      (product && m.name.startsWith("product")) ||
      // a case class's companion, whose `apply` calls compile to `new`
      (companion && (Set("<init>", "toString", "curried", "tupled", "andThen",
        "compose")(m.name) || (m.name == "apply" && m.desc.endsWith(")" + self)) ||
        (m.name == "unapply" && m.desc.startsWith(s"($self)")))) ||
      forwarder(c, m) || constantGetter(m)
    }
    (for {
      c <- classes.values.toSeq
      m <- c.methods.asScala
      if !reached(M(c.name, m.name, m.desc)) && !generated(c, m)
    } yield {
      val cls = c.name.stripSuffix("$").replace('/', '.')
      val name = if (m.name == "<init>") s"$cls.<init>${m.desc}" else s"$cls.${m.name}"
      Unreached(name, where(c, m))
    }).distinct.sortBy(u => (u.where, u.name))
  }

  /** A static method of `X` that calls `X$.MODULE$`: the forwarder scalac
    * emits for each method of the companion object. */
  private def forwarder(c: ClassNode, m: MethodNode): Boolean =
    (m.access & Opcodes.ACC_STATIC) != 0 && Option(m.instructions).exists(
      _.iterator().asScala.find(_.getOpcode >= 0).exists {
        case f: FieldInsnNode => f.owner == c.name + "$" && f.name == "MODULE$"
        case _ => false
      })

  /** `final val X = <literal>`: scalac inlines the literal at every use,
    * so the getter is never called. */
  private def constantGetter(m: MethodNode): Boolean = !m.name.contains("$default$") && {
    val code = Option(m.instructions).toSeq.flatMap(_.iterator().asScala)
      .filter(_.getOpcode >= 0)
    code.size == 2 && (code.head match {
      case _: LdcInsnNode => true
      case i: InsnNode => i.getOpcode >= Opcodes.ACONST_NULL && i.getOpcode <= Opcodes.DCONST_1
      case i: IntInsnNode => i.getOpcode != Opcodes.NEWARRAY
      case _ => false
    }) && code(1).getOpcode >= Opcodes.IRETURN && code(1).getOpcode <= Opcodes.RETURN
  }

  /** Bytes of a Scala-style object `name` with one method, `unused`, that
    * nothing calls. */
  def probeClass(name: String): Array[Byte] = {
    val c = new ClassNode()
    c.version = Opcodes.V17
    c.access = Opcodes.ACC_PUBLIC | Opcodes.ACC_FINAL
    c.name = name
    c.superName = "java/lang/Object"
    c.sourceFile = "ReachProbe.scala"
    val m = new MethodNode(Opcodes.ACC_PUBLIC, "unused", "()I", null, null)
    m.instructions.add(new VarInsnNode(Opcodes.ALOAD, 0))
    m.instructions.add(new MethodInsnNode(Opcodes.INVOKEVIRTUAL, "java/lang/Object",
      "hashCode", "()I", false))
    m.instructions.add(new InsnNode(Opcodes.IRETURN))
    m.maxStack = 1; m.maxLocals = 1
    c.methods.add(m)
    val w = new org.apache.xbean.asm9.ClassWriter(0)
    c.accept(w)
    w.toByteArray
  }
}
