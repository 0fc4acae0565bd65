package graft.operators

import graft.SparkSpec
import graft.plans.References
import org.apache.spark.sql.functions._

/** Deletion-neighborhood matching: equality with the exhaustive answer over
  * a corpus that exercises every edit kind (head/tail/middle substitution,
  * deletion, insertion, equality, short strings), and the properties that
  * make the blocking scale — linear key fan-out and block sizes that track
  * matches, not table size, even on heavily shared-prefix names.
  */
class EntityResolutionSpec extends SparkSpec {
  import spark.implicits._

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  /** The blocked match equals the distinct brute-force answer, on the rows
    * as given and again with exactly-duplicate (id, name) rows on both
    * sides, which must not multiply the output. Returns the answer. */
  private def assertExhaustive(canon: Seq[(Long, String)], dirty: Seq[(Long, String)],
      maxDist: Int): Seq[(Long, Long, Int)] = {
    val want = (for {
      (did, dn) <- dirty.distinct; (cid, cn) <- canon.distinct
      d = lev(dn, cn) if d <= maxDist
    } yield (did, cid, d)).sorted
    for ((c, d) <- Seq((canon, dirty), (canon ++ canon.take(5), dirty ++ dirty.take(7)))) {
      val got = EntityResolution.matchByEditDistance(
          d.toDF("did", "dname"), "did", "dname", c.toDF("cid", "cname"), "cid", "cname",
          maxDist = maxDist)
        .select($"did", $"cid", $"edit_dist").as[(Long, Long, Int)]
        .collect().sorted
      assert(got.toSeq == want,
        s"blocked != exhaustive (${c.size} canon, ${d.size} dirty rows):\n" +
          s" got ${got.mkString(", ")}\nwant ${want.mkString(", ")}")
    }
    want
  }

  test("blocked match equals exhaustive match across all edit kinds") {
    val canon = Seq(
      "alpha-1", "alpha-2", "beta-12", "gamma-123", "delta-1234",
      "abcdefgh", "abcdefghi", "abcdeXgh",
      "shorty", "shor", "sh", "a",
      "verylongname-42", "verylongname-43").zipWithIndex
      .map { case (n, i) => (i.toLong, n) }
    val dirty = Seq(
      "alpha-",         // tail deletion
      "lpha-1",         // head deletion
      "alpha-1",        // exact (distance 0)
      "Xalpha-1",       // head insertion
      "abcdefghX",      // tail substitution of abcdefghi
      "Xbcdefgh",       // head substitution
      "abcdeYgh",       // middle substitution: matches abcdefgh AND abcdeXgh
      "short",          // short regime (matches shorty? dist 1 del)
      "b",              // single char vs "a": substitution dist 1
      "verylongname-4", // deletion matching both -42 and -43
      "zzzzzzzzzz")     // no match
      .zipWithIndex.map { case (n, i) => (100L + i, n) }
    val want = assertExhaustive(canon, dirty, maxDist = 1)
    assert(!want.exists { case (did, _, _) => did == 110L }, "zzz… must not match")
    assert(want.exists { case (did, cid, d) => did == 108L && d == 1 },
      "single-char substitution must match")
  }

  test("deletion keys: string itself plus each single deletion, deduped") {
    val keys = Seq(Tuple1("abc")).toDF("n")
      .select(array_distinct(References.deletionKeys($"n"))).as[Seq[String]].head()
    assert(keys.toSet == Set("abc", "bc", "ac", "ab"))
    // repeated chars dedupe ("aa" -> deleting either char gives "a" once)
    val dup = Seq(Tuple1("aa")).toDF("n")
      .select(array_distinct(References.deletionKeys($"n"))).as[Seq[String]].head()
    assert(dup.toSet == Set("aa", "a"))
  }

  test("block sizes track matches, not table size, on shared-prefix names") {
    // 2000 names all sharing a 12-char prefix — the distribution that made
    // prefix blocking quadratic; deletion-neighborhood block sizes must
    // stay tiny because the discriminating suffix enters every key
    val canon = (1 to 2000).map(i => (i.toLong, f"SHARED-PREFIX-$i%06d")).toDF("cid", "cname")
    val blocks = canon
      .select(explode(array_distinct(References.deletionKeys($"cname"))).as("k"))
      .groupBy($"k").count()
    val maxBlock = blocks.agg(max($"count")).as[Long].head()
    // a key is shared only by names one deletion apart in the varying part
    // (the digit neighborhood of a 6-digit suffix is a few dozen names —
    // a constant of the name format, NOT of the table size)
    assert(maxBlock <= 60L,
      s"deletion-neighborhood blocks must stay bounded on shared prefixes, max=$maxBlock")
    // fan-out is linear: exactly len+1 distinct keys per unique name here
    val totalKeys = blocks.agg(sum($"count")).as[Long].head()
    assert(totalKeys <= 2000L * 21L)
  }

  test("depth-2 neighborhood: up to two deletions, deduped") {
    val keys = Seq(Tuple1("abcd")).toDF("n")
      .select(References.deletionNeighborhood($"n", 2)).as[Seq[String]].head()
    val want = Set("abcd",
      "bcd", "acd", "abd", "abc",
      "cd", "bd", "bc", "ad", "ac", "ab")
    assert(keys.toSet == want)
    assert(keys.length == want.size) // properly deduped
  }

  test("distance-2 blocked match equals exhaustive match across edit kinds") {
    val canon = Seq(
      "alpha-1", "alpha-2", "beta-12", "gamma-123",
      "abcdefgh", "abcdefghi", "abcdeXgh",
      "shorty", "shor", "sh",
      "verylongname-42", "verylongname-43").zipWithIndex
      .map { case (n, i) => (i.toLong, n) }
    val dirty = Seq(
      "alpha",          // two tail deletions of alpha-1/-2
      "lpha1",          // head + middle deletion
      "Xlpha-Y",        // two substitutions
      "XYalpha-1",      // two head insertions
      "abcdYgZ",        // deletion + two subs vs abcdefgh (d=3: no match to it)
      "abcdeg",         // two middle deletions of abcdefgh (d=2)
      "sorty",          // one deletion (d=1 to shorty): still reported at depth 2
      "s",              // vs "sh": d=1
      "verylongname-",  // matches -42/-43 at d=2
      "zzzzzzzzzz")     // no match
      .zipWithIndex.map { case (n, i) => (100L + i, n) }
    val want = assertExhaustive(canon, dirty, maxDist = 2)
    assert(want.exists(_._3 == 1) && want.exists(_._3 == 2),
      "corpus must exercise both distances")
    assert(!want.exists { case (did, _, _) => did == 109L }, "zzz… must not match")
  }

  test("randomized: depth-2 blocking never misses a distance-<=2 pair") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcde"
    def word(): String =
      (0 until (4 + rnd.nextInt(6))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val cs = (1 to 60).map(i => (i.toLong, word())).distinct
    val ds = (1 to 60).map(i => (1000L + i, word())).distinct
    val canon = cs.toDF("cid", "cname")
    val dirty = ds.toDF("did", "dname")
    val got = EntityResolution.matchByEditDistance(
        dirty, "did", "dname", canon, "cid", "cname", maxDist = 2)
      .select($"did", $"cid", $"edit_dist").as[(Long, Long, Int)]
      .collect().toSet
    val want = (for {
      (did, dn) <- ds; (cid, cn) <- cs
      d = lev(dn, cn) if d <= 2
    } yield (did, cid, d)).toSet
    assert(got == want, s"missing: ${(want -- got).take(5)}; extra: ${(got -- want).take(5)}")
    assert(want.nonEmpty, "small alphabet should produce close pairs")
  }

  test("plan: block keys shuffle as int64 hashes from the native kernel") {
    val canon = Seq((1L, "alpha"), (2L, "beta")).toDF("cid", "cname")
    val dirty = Seq((10L, "alpa")).toDF("did", "dname")
    val plan = EntityResolution.matchByEditDistance(
        dirty, "did", "dname", canon, "cid", "cname", maxDist = 2)
      .queryExecution.executedPlan.toString
    // the block-key exchange must carry int64 keys produced by the codegen
    // kernel, not strings through interpreted HOF lambdas
    assert(plan.contains("deletion_key_hashes"),
      s"block keys must come from the native kernel:\n$plan")
    assert(!plan.contains("lambdafunction"),
      s"no interpreted HOF lambdas on the key path:\n$plan")
  }

  test("deletion_key_hashes kernel emits exactly the HOF formulation's hash set") {
    import graft.plans.EntityExpressions
    // every regime: empty, single char, repeated chars (string-level dedupe),
    // the gate's name shape, spaces, multi-byte UTF-8 (two-byte, three-byte,
    // surrogate-pair emoji — deletion must remove whole codepoints)
    val names = Seq("", "a", "aa", "aaaa", "abcd", "ALGERIA-1234567",
      "shared prefix x", "héllo wörld", "日本語のテキスト", "a😀b😀")
    for (depth <- Seq(1, 2); n <- names) {
      val df = Seq(Tuple1(n)).toDF("n")
      val hof = df.select(transform(
          References.deletionNeighborhood($"n", depth), s => xxhash64(s)))
        .as[Seq[Long]].head()
      val kernel = df.select(EntityExpressions.deletionKeyHashes($"n", depth))
        .as[Seq[Long]].head()
      assert(kernel == kernel.sorted && kernel.distinct == kernel,
        s"kernel output must be sorted-unique for '$n' depth=$depth")
      assert(kernel.toSet == hof.toSet,
        s"kernel != HOF hash set for '$n' depth=$depth: " +
          s"missing=${(hof.toSet -- kernel.toSet).take(3)} " +
          s"extra=${(kernel.toSet -- hof.toSet).take(3)}")
    }
    // null propagates
    val nullOut = Seq(Tuple1(Option.empty[String])).toDF("n")
      .select(EntityExpressions.deletionKeyHashes($"n", 2)).collect()(0)
    assert(nullOut.isNullAt(0))
  }

  test("deletion_key_hashes fails loudly when a depth-2 neighborhood cannot fit in an array") {
    // 90k codepoints at depth 2 is ~4.05e9 variants: an Int product wraps
    // negative here, so the kernel must size in Long and refuse up front
    val name = org.apache.spark.unsafe.types.UTF8String.fromString("a" * 90000)
    val e = intercept[IllegalArgumentException](
      graft.plans.EntityKernel.deletionKeyHashes(name, 2))
    assert(e.getMessage.contains(
      "name too long for depth-2 deletion blocking: 90000 codepoints"), e.getMessage)
  }
}
