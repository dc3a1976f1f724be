package graft.perfbench

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded input generators. Every workload sees only the files written here
  * (plus op inputs drawn from the same seed); sizes and shape parameters are
  * fixed, so two seeds give inputs of the same size and structure with
  * different content. */
object Gen {

  private def write(p: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }
  private def writeUtf8(p: Path, s: String): Unit = write(p, s.getBytes(StandardCharsets.UTF_8))

  // ---------------------------------------------------------------- code --

  /** An algorithm with two implementations (the pair gives type-4 clones).
    * Placeholders: {m} method, {a} array, {r} result, {i} {j} indices,
    * {t} temporary, {k} literal. */
  private final case class Algo(ret: String, params: String,
      implA: Seq[String], implB: Seq[String])

  private val algos: IndexedSeq[Algo] = IndexedSeq(
    Algo("int", "ARR({a}), int n",
      Seq("int {r} = 0;", "for (int {i} = 0; {i} < n; {i}++) {", "    {r} += {a}[{i}];", "}", "return {r};"),
      Seq("int {r} = 0;", "int {i} = 0;", "while ({i} < n) {", "    {r} = {r} + {a}[{i}];", "    {i}++;", "}", "return {r};")),
    Algo("int", "ARR({a}), int n",
      Seq("int {r} = {a}[0];", "for (int {i} = 1; {i} < n; {i}++) {", "    if ({a}[{i}] > {r}) {", "        {r} = {a}[{i}];", "    }", "}", "return {r};"),
      Seq("int {r} = {a}[n - 1];", "int {i} = n - 2;", "while ({i} >= 0) {", "    {r} = {a}[{i}] > {r} ? {a}[{i}] : {r};", "    {i}--;", "}", "return {r};")),
    Algo("int", "ARR({a}), int n",
      Seq("int {r} = 0;", "for (int {i} = 0; {i} < n; {i}++) {", "    if ({a}[{i}] == {k}) {", "        {r}++;", "    }", "}", "return {r};"),
      Seq("int {r} = 0;", "int {i} = 0;", "while ({i} < n) {", "    {r} += ({a}[{i}] == {k}) ? 1 : 0;", "    {i} = {i} + 1;", "}", "return {r};")),
    Algo("void", "ARR({a}), int n",
      Seq("int {i} = 0;", "int {j} = n - 1;", "while ({i} < {j}) {", "    int {t} = {a}[{i}];", "    {a}[{i}] = {a}[{j}];", "    {a}[{j}] = {t};", "    {i}++;", "    {j}--;", "}"),
      Seq("for (int {i} = 0; {i} < n / 2; {i}++) {", "    int {t} = {a}[n - 1 - {i}];", "    {a}[n - 1 - {i}] = {a}[{i}];", "    {a}[{i}] = {t};", "}")),
    Algo("int", "ARR({a}), int n",
      Seq("for (int {i} = 0; {i} < n; {i}++) {", "    if ({a}[{i}] == {k}) {", "        return {i};", "    }", "}", "return -1;"),
      Seq("int {r} = -1;", "int {i} = 0;", "while ({r} < 0 && {i} < n) {", "    if ({a}[{i}] == {k}) {r} = {i};", "    {i}++;", "}", "return {r};")),
    Algo("void", "ARR({a}), int n",
      Seq("for (int {i} = 0; {i} < n - 1; {i}++) {", "    for (int {j} = 0; {j} < n - 1 - {i}; {j}++) {", "        if ({a}[{j}] > {a}[{j} + 1]) {", "            int {t} = {a}[{j}];", "            {a}[{j}] = {a}[{j} + 1];", "            {a}[{j} + 1] = {t};", "        }", "    }", "}"),
      Seq("int {r} = 1;", "while ({r} != 0) {", "    {r} = 0;", "    for (int {i} = 1; {i} < n; {i}++) {", "        if ({a}[{i} - 1] > {a}[{i}]) {", "            int {t} = {a}[{i}];", "            {a}[{i}] = {a}[{i} - 1];", "            {a}[{i} - 1] = {t};", "            {r} = 1;", "        }", "    }", "}")),
    Algo("long", "int n",
      Seq("long {r} = 1;", "for (int {i} = 2; {i} <= n; {i}++) {", "    {r} *= {i};", "}", "return {r};"),
      Seq("if (n <= 1) {", "    return 1;", "}", "return n * {m}(n - 1);")),
    Algo("long", "int n",
      Seq("long {r} = 0;", "long {t} = 1;", "for (int {i} = 0; {i} < n; {i}++) {", "    long {j} = {r} + {t};", "    {r} = {t};", "    {t} = {j};", "}", "return {r};"),
      Seq("if (n < 2) {", "    return n;", "}", "return {m}(n - 1) + {m}(n - 2);")),
    Algo("int", "int {a}, int {t}",
      Seq("while ({t} != 0) {", "    int {r} = {a} % {t};", "    {a} = {t};", "    {t} = {r};", "}", "return {a};"),
      Seq("if ({t} == 0) {", "    return {a};", "}", "return {m}({t}, {a} % {t});")),
    Algo("int", "int n",
      Seq("if (n < 2) return 0;", "for (int {i} = 2; {i} * {i} <= n; {i}++) {", "    if (n % {i} == 0) {", "        return 0;", "    }", "}", "return 1;"),
      Seq("int {r} = n > 1 ? 1 : 0;", "int {i} = 2;", "while ({r} == 1 && {i} <= n / {i}) {", "    if (n % {i} == 0) {r} = 0;", "    {i} += 1;", "}", "return {r};")),
    Algo("double", "ARR({a}), int n",
      Seq("double {r} = 0;", "for (int {i} = 0; {i} < n; {i}++) {", "    {r} += {a}[{i}];", "}", "return n == 0 ? 0 : {r} / n;"),
      Seq("double {r} = 0;", "for (int {i} = 0; {i} < n; {i}++) {", "    {r} += ({a}[{i}] - {r}) / ({i} + 1);", "}", "return {r};")),
    Algo("int", "ARR({a}), int n",
      Seq("int {i} = 0;", "int {j} = n - 1;", "while ({i} <= {j}) {", "    int {t} = ({i} + {j}) / 2;", "    if ({a}[{t}] == {k}) return {t};", "    if ({a}[{t}] < {k}) {i} = {t} + 1;", "    else {j} = {t} - 1;", "}", "return -1;"),
      Seq("int {i} = 0;", "int {j} = n;", "while ({j} - {i} > 1) {", "    int {t} = {i} + ({j} - {i}) / 2;", "    if ({a}[{t}] <= {k}) {", "        {i} = {t};", "    } else {", "        {j} = {t};", "    }", "}", "return n > 0 && {a}[{i}] == {k} ? {i} : -1;"))
  )

  private val syllables = IndexedSeq("val", "num", "arr", "dat", "res", "acc", "idx",
    "pos", "tmp", "cur", "cnt", "buf", "lst", "itm", "sum", "key", "lo", "hi", "mid",
    "len", "elem", "node", "step", "mark", "flag", "total", "best", "seen", "calc", "run")

  private def ident(rnd: Random): String = {
    val a = syllables(rnd.nextInt(syllables.size))
    val b = syllables(rnd.nextInt(syllables.size))
    a + b.capitalize + (if (rnd.nextInt(3) == 0) rnd.nextInt(10).toString else "")
  }

  private def names(rnd: Random): Map[String, String] = {
    val ids = Iterator.continually(ident(rnd)).distinct.take(7).toIndexedSeq
    Map("{m}" -> ids(0), "{a}" -> ids(1), "{r}" -> ids(2), "{i}" -> ids(3),
      "{j}" -> ids(4), "{t}" -> ids(5), "{k}" -> (2 + rnd.nextInt(90)).toString)
  }

  private val extraStmts = IndexedSeq(
    "if (n < 0) return 0;", "int unused = {k};", "n = n + 0;", "// guard against bad input",
    "System.out.println(\"{m}\");", "int {t}2 = {k} * 2;")

  /** One function body for an algorithm: `variant` 0 = base, 1 = type-1
    * (layout and comment), 2 = type-2 (renamed identifiers and literals),
    * 3 = type-3 (an added statement), 4 = type-4 (the other implementation). */
  private def function(algo: Algo, baseNames: Map[String, String], variant: Int,
      java: Boolean, rnd: Random): Seq[String] = {
    val nm = if (variant == 2 || variant == 4) names(rnd) else baseNames
    var body = if (variant == 4) algo.implB else algo.implA
    if (variant == 3) {
      val at = 1 + rnd.nextInt(math.max(1, body.size - 1))
      body = (body.take(at) :+ extraStmts(rnd.nextInt(extraStmts.size))) ++ body.drop(at)
    }
    val indent = if (variant == 1) "  " else "    "
    val params = algo.params.replaceAll("ARR\\(([^)]*)\\)", if (java) "int[] $1" else "int $1[]")
    val sig = (if (java) "public static " else "") + s"${algo.ret} {m}($params) {"
    val comment = if (variant == 1) Seq(indent + "// computes the result in one pass") else Nil
    def fill(s: String) = nm.foldLeft(s) { case (acc, (k, v)) => acc.replace(k, v) }
    (Seq(sig) ++ comment ++ body.map(indent + _) :+ "}").map(fill)
  }

  // ----------------------------------------------------------------- BCB --

  final case class Bcb(clonesCsv: String, functionsCsv: String, srcDir: String,
      functions: Int, classes: Int)

  /** BigCloneBench-shaped inputs: `classes` clone classes whose members are
    * type-1..4 variants of one function, packed several to a source file.
    * CLONES.csv lists every within-class pair; FUNCTIONS_CLEANED.csv gives
    * each function's file and line span in the reference's slicing
    * convention (lines STARTLINE+1 .. ENDLINE are the function). */
  def bcb(dir: Path, seed: Long, classes: Int): Bcb = {
    val rnd = new Random(seed * 1000003L + 11)
    val sizes = IndexedSeq(2, 3, 4, 5, 6)
    val total = (0 until classes).map(c => sizes(c % sizes.size)).sum
    val ids = rnd.shuffle((0 until total).toIndexedSeq).map(i => 100000L + i * 7L)
    var next = 0
    val funcs = ArrayBuffer[(Long, Seq[String])]()
    val pairs = ArrayBuffer[(Long, Long)]()
    for (c <- 0 until classes) {
      // a fixed algorithm per class keeps the corpus shape (and so the
      // work and the MAP) the same across seeds
      val algo = algos(c % algos.size)
      val base = names(rnd)
      val members = (0 until sizes(c % sizes.size)).map { v =>
        val id = ids(next); next += 1
        funcs += ((id, function(algo, base, v % 5, java = true, rnd)))
        id
      }
      for (i <- members.indices; j <- i + 1 until members.size) pairs += ((members(i), members(j)))
    }
    val order = rnd.shuffle(funcs.toIndexedSeq)
    val fnRows = ArrayBuffer[String]()
    order.grouped(8).zipWithIndex.foreach { case (group, f) =>
      val file = f"Bcb$f%05d.java"
      val lines = ArrayBuffer[String](s"package bench.gen$f;", "", s"public class Bcb$f {")
      group.foreach { case (id, body) =>
        lines += ""
        val start = lines.size // 1-based number of the line before the function
        lines ++= body.map("    " + _)
        fnRows += s"$id,$file,$start,${lines.size}"
      }
      lines += "}"
      writeUtf8(dir.resolve(s"src/part${f % 4}/$file"), lines.mkString("\n") + "\n")
    }
    writeUtf8(dir.resolve("CLONES.csv"),
      ("FUNCTION_ID_ONE,FUNCTION_ID_TWO" +: rnd.shuffle(pairs.toIndexedSeq).map { case (a, b) =>
        s"$a,$b" }).mkString("\n") + "\n")
    writeUtf8(dir.resolve("FUNCTIONS_CLEANED.csv"),
      ("ID,NAME,STARTLINE,ENDLINE" +: fnRows.toSeq).mkString("\n") + "\n")
    Bcb(dir.resolve("CLONES.csv").toString, dir.resolve("FUNCTIONS_CLEANED.csv").toString,
      dir.resolve("src").toString, total, classes)
  }

  // ----------------------------------------------------------------- POJ --

  final case class Poj(dataDir: String, files: Int, gbk: Int, sjis: Int)

  private val zhComment = "计算数组的和并输出结果这个函数用于处理输入数据然后返回答案"
  private val jaComment = "この関数は配列の合計を計算します入力データを処理して結果を出力します"

  /** POJ-104-shaped inputs: `classes` problem directories of `perClass`
    * programs. A problem is a fixed pair of algorithms; each program picks
    * implementations, names and an optional added statement. One program in
    * twenty carries a GBK-encoded Chinese comment and one in twenty a
    * Shift-JIS Japanese one, so charset detection runs on real inputs. */
  def poj(dir: Path, seed: Long, classes: Int, perClass: Int): Poj = {
    val rnd = new Random(seed * 1000003L + 23)
    val problems = (0 until classes).map(c => (c % algos.size, (c * 5 + 3) % algos.size))
    var gbk = 0; var sjis = 0
    for ((problem, c) <- problems.zipWithIndex; f <- 0 until perClass) {
      val parts = Seq(problem._1, problem._2).flatMap { a =>
        function(algos(a), names(rnd), Seq(0, 1, 2, 3, 4)(rnd.nextInt(5)), java = false, rnd) :+ ""
      }
      val main = Seq("int main() {", "    int n, data[1000];", "    scanf(\"%d\", &n);",
        "    for (int i = 0; i < n; i++) scanf(\"%d\", &data[i]);",
        s"    printf(\"%d\\n\", n);", "    return 0;", "}")
      val kind = rnd.nextInt(20)
      val (header, cs) = kind match {
        case 0 => gbk += 1; (Seq(s"/* $zhComment */", s"/* $zhComment */"), Charset.forName("GBK"))
        case 1 => sjis += 1; (Seq(s"/* $jaComment */", s"/* $jaComment */"), Charset.forName("Shift_JIS"))
        case _ => (Seq("#include <stdio.h>"), StandardCharsets.UTF_8)
      }
      val text = (header ++ Seq("") ++ parts ++ main).mkString("\n") + "\n"
      write(dir.resolve(s"${c + 1}/${1000 + f}.txt"), text.getBytes(cs))
    }
    Poj(dir.toString, classes * perClass, gbk, sjis)
  }

  // ------------------------------------------------------------- vectors --

  final case class Vectors(path: String, ids: Array[Long], vecs: Array[Array[Float]],
      centers: Array[Array[Double]])

  def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** A point near a planted cluster center, unit-normalized. */
  def nearCenter(center: Array[Double], rnd: Random, sigma: Double): Array[Float] =
    unit(center.map(_ + rnd.nextGaussian() * sigma))

  /** `n` unit vectors of dimension `dim` around `clusters` random centers,
    * written as JSON lines (`id`, `vec`). Floats are written in their
    * shortest round-trip form, so the in-memory copy used for checking is
    * bit-identical to what Spark parses. */
  def vectors(dir: Path, seed: Long, n: Int, dim: Int, clusters: Int, sigma: Double): Vectors = {
    val rnd = new Random(seed * 1000003L + 37)
    val centers = Array.fill(clusters)(Array.fill(dim)(rnd.nextGaussian()))
      .map(c => unit(c).map(_.toDouble))
    val ids = rnd.shuffle((0 until n).toIndexedSeq).map(_.toLong * 3L + 1L).toArray
    val vecs = Array.tabulate(n)(i => nearCenter(centers(i % clusters), rnd, sigma))
    val p = dir.resolve("vectors.jsonl")
    Files.createDirectories(dir)
    val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    try for (i <- 0 until n) {
      w.write(s"""{"id":${ids(i)},"vec":[${vecs(i).map(java.lang.Float.toString).mkString(",")}]}""")
      w.write('\n')
    } finally w.close()
    Vectors(p.toString, ids, vecs, centers)
  }

  // ---------------------------------------------------------------- docs --

  final case class Docs(path: String, ids: Array[Long], texts: Array[String],
      families: Seq[Seq[Long]])

  /** Word 3-gram shingle set with the library's tokenization for the
    * lowercase ASCII, single-space text generated here. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.split(' ').filter(_.nonEmpty)
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a intersect b).size.toDouble / (a union b).size

  /** `n` documents of 80-120 words from a 6000-word vocabulary; `familyShare`
    * of them are planted near-duplicate families whose sizes cycle through a
    * fixed list (2 to 16). A member is its family's base document with zero
    * to two words replaced, re-drawn until its shingle Jaccard with every
    * earlier member is at least `minJaccard`. */
  def docs(dir: Path, seed: Long, n: Int, familyShare: Double, minJaccard: Double): Docs = {
    val rnd = new Random(seed * 1000003L + 53)
    val vocab = Iterator.continually {
      (0 until 2 + rnd.nextInt(2)).map(_ => ('a' + rnd.nextInt(26)).toChar.toString +
        "aeiou".charAt(rnd.nextInt(5))).mkString
    }.distinct.take(6000).toIndexedSeq
    def doc(): Array[String] = Array.fill(80 + rnd.nextInt(41))(vocab(rnd.nextInt(vocab.size)))
    val sizes = IndexedSeq(2, 2, 3, 3, 4, 5, 6, 8, 10, 16)
    val planted = (n * familyShare).toInt
    val famSizes = ArrayBuffer[Int]()
    while (famSizes.sum + sizes(famSizes.size % sizes.size) <= planted)
      famSizes += sizes(famSizes.size % sizes.size)
    val texts = ArrayBuffer[String]()
    val familyIdx = ArrayBuffer[Seq[Int]]()
    for (size <- famSizes) {
      val base = doc()
      val members = ArrayBuffer[String]()
      while (members.size < size) {
        val m = base.clone()
        for (_ <- 0 until rnd.nextInt(3)) m(rnd.nextInt(m.length)) = vocab(rnd.nextInt(vocab.size))
        val s = m.mkString(" ")
        val sh = shingles(s)
        if (members.forall(o => jaccard(shingles(o), sh) >= minJaccard)) members += s
      }
      familyIdx += members.indices.map(_ + texts.size)
      texts ++= members
    }
    while (texts.size < n) texts += doc().mkString(" ")
    val order = rnd.shuffle(texts.indices.toIndexedSeq)
    val ids = new Array[Long](n)
    order.zipWithIndex.foreach { case (textIdx, pos) => ids(textIdx) = 5000L + pos * 11L }
    val p = dir.resolve("docs.jsonl")
    Files.createDirectories(dir)
    val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    try order.foreach { i => w.write(s"""{"id":${ids(i)},"text":"${texts(i)}"}"""); w.write('\n') }
    finally w.close()
    Docs(p.toString, ids, texts.toArray, familyIdx.map(_.map(ids(_))).toSeq)
  }
}
