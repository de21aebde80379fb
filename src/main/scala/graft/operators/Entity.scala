package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.EditWithin
import org.apache.spark.sql.functions._

/** Entity-resolution joins: string-similarity matching over catalog
  * tables (names, titles, addresses) where near-matches are EDITS, not
  * shared shingles — the complement of the set-overlap family (PPJoin
  * q101 / LSH q23 operate on token sets; an edit-distance join catches
  * `Customer#000000123` vs `Customer#000000124`, which share every
  * 5-gram shingle except one and no useful rare token).
  */
object Entity {

  /** q169 — edit-distance-1 fuzzy join: all customer-name pairs within
    * Levenshtein distance 1, with candidates ONLY from equi-joins —
    * POSITION-KEYED deletion-neighborhood blocking (the Mor-Fraenkel
    * refinement of FastSS, public literature):
    *
    *  - J0: originals on name equality (distance-0 duplicate names);
    *  - J1: single-character deletions keyed on (variant, POSITION) —
    *    a substitution at `p` means deleting `p` from both sides gives
    *    the same string at the same position;
    *  - J2: originals against deletions on the string alone — an
    *    insertion means the shorter string IS a deletion of the longer.
    *
    * COMPLETE: every distance ≤ 1 pair is equal (J0), a substitution
    * (J1) or an insertion/deletion (J2). EXACT by construction: sharing
    * a deletion at the SAME position forces agreement everywhere else,
    * so J1 emits no false candidates (and J2/J0 are distance 1/0
    * definitionally) — unlike plain position-less FastSS, where `xa`/
    * `ax` share the variant `a` at distance 2, every candidate here is
    * a result row; the [[graft.functions.EditWithin]] verify is kept as
    * an executable statement of the contract, not a filter that works.
    *
    * Scale shape: the deletion explosion is ×L map-side (all codegen'd
    * substring/concat builtins — no higher-order functions); all three
    * joins are equi-joins. The position in J1's key is what survives
    * adversarial key distributions: position-less variant blocking
    * collapses dense sequential ids into huge groups (deleting any of
    * the equal leading zeros of `Customer#0001…` gives the same
    * variant — measured 42 M candidates for ~1.3 M true pairs at
    * sf0.5, a 29× false-candidate blowup that grows with corpus
    * density), while a (variant, position) group is pinned to the one
    * free character — ≤ |alphabet| members regardless of corpus size,
    * so candidate volume ≡ result volume. Generalizes to distance d by
    * deleting up to d characters keyed on the position SET, with the
    * banded `EditWithin(…, d)` verify doing real filtering.
    */
  val qFuzzyJoin: QuerySpec = QuerySpec(
    "q169_fuzzy_join",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      // r18: the deletion-neighborhood frame feeds three join sides
      // (both halves of J1's self-join and J2's probe) — flushed once
      // so the ×L explode + substring/concat chain runs one time, not
      // three (the q101/q160 multiply-referenced-subtree rule).
      val dels = Scratch.flush(s,
        Scratch.dirTag("q169-dels", dir),
        c.select(col("id"), col("name"),
            explode(sequence(lit(1), length(col("name")))).as("i"))
          .select(col("id"), col("name"), col("i"),
            concat(col("name").substr(lit(1), col("i") - 1),
              col("name").substr(col("i") + 1, length(col("name"))))
              .as("var")))
      val j0 = c.as("a").join(c.as("b"),
          col("a.name") === col("b.name") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.name").as("na"), col("b.name").as("nb"))
      val j1 = dels.as("a").join(dels.as("b"),
          col("a.var") === col("b.var") && col("a.i") === col("b.i") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.name").as("na"), col("b.name").as("nb"))
      val j2 = c.as("a").join(dels.as("b"),
          col("a.name") === col("b.var") && col("a.id") =!= col("b.id"))
        .select(
          when(col("a.id") < col("b.id"), col("a.id")).otherwise(col("b.id"))
            .as("id_a"),
          when(col("a.id") < col("b.id"), col("b.id")).otherwise(col("a.id"))
            .as("id_b"),
          when(col("a.id") < col("b.id"), col("a.name"))
            .otherwise(col("b.name")).as("na"),
          when(col("a.id") < col("b.id"), col("b.name"))
            .otherwise(col("a.name")).as("nb"))
      j0.unionByName(j1).unionByName(j2)
        .distinct()
        .withColumn("d", EditWithin(col("na"), col("nb"), 1))
        .filter(col("d") >= 0)
        .select(col("id_a"), col("id_b"), col("d").cast("long").as("dist"))
    },
    Some("""WITH v AS (
           |  SELECT c_custkey AS id, c_name AS name,
           |    unnest(list_prepend(c_name,
           |      list_transform(range(1, length(c_name) + 1),
           |        i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1))))
           |    AS var
           |  FROM customer),
           | cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           |    a.name AS na, b.name AS nb
           |  FROM v a JOIN v b ON a.var = b.var AND a.id < b.id)
           | SELECT id_a, id_b, CAST(levenshtein(na, nb) AS BIGINT) AS dist
           | FROM cand WHERE levenshtein(na, nb) <= 1""".stripMargin
      .replaceAll("\n", "")))

  val specs: Seq[QuerySpec] = Seq(qFuzzyJoin)
}
