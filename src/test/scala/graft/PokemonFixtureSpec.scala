package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.filters.Filters
import graft.filters.Filters.{CmpOp, Cmp, Contains, Eq, EqList}

/** Golden end-to-end over the reference's nastiest fixture shape — the
  * pokemon-style deeply nested metadata its `main()` exercises
  * (vdb.py:73-104, data/pokemon.json): nested numeric paths, keys
  * containing spaces ("Sp. Attack"), arrays, and arrays-of-arrays.
  * Exercises P2–P6 through BOTH filter compilers and the full
  * insert → filtered-kNN lifecycle. */
class PokemonFixtureSpec extends SparkSpec with Matchers {
  import spark.implicits._

  private val pokemon = Seq(
    """{"name": "Bulbasaur", "species": "Seed Pokémon", "type": ["Grass", "Poison"],
      | "base": {"HP": 45, "Attack": 49, "Sp. Attack": 65},
      | "profile": {"ability": [["Overgrow", "false"], ["Chlorophyll", "true"]]}}""",
    """{"name": "Charmander", "species": "Lizard Pokémon", "type": ["Fire"],
      | "base": {"HP": 39, "Attack": 52, "Sp. Attack": 60},
      | "profile": {"ability": [["Blaze", "false"], ["Solar Power", "true"]]}}""",
    """{"name": "Squirtle", "species": "Tiny Turtle Pokémon", "type": ["Water"],
      | "base": {"HP": 44, "Attack": 48, "Sp. Attack": 50},
      | "profile": {"ability": [["Torrent", "false"], ["Rain Dish", "true"]]}}""",
    """{"name": "Charizard", "species": "Flame Pokémon", "type": ["Fire", "Flying"],
      | "base": {"HP": 78, "Attack": 84, "Sp. Attack": 109},
      | "profile": {"ability": [["Blaze", "false"], ["Solar Power", "true"]]}}"""
  ).map(_.stripMargin.replace("\n", ""))

  private lazy val docs = pokemon.toDF("metadata")

  private def names(preds: Seq[Filters.Pred], variant: Boolean = false): Set[String] = {
    val cond = if (variant) Filters.compileVariant(preds, col("metadata"))
    else Filters.compile(preds, col("metadata"))
    docs.where(cond)
      .select(get_json_object(col("metadata"), "$.name")).as[String].collect().toSet
  }

  test("nested numeric path comparison (P2/P3) on both compilers") {
    val preds = Seq(Cmp("base.Attack", CmpOp.Gt, 50))
    names(preds) shouldBe Set("Charmander", "Charizard")
    names(preds, variant = true) shouldBe Set("Charmander", "Charizard")
  }

  test("scalar equality shorthand with unicode value (P4)") {
    val preds = Seq(Eq("species", "Seed Pokémon"))
    names(preds) shouldBe Set("Bulbasaur")
    names(preds, variant = true) shouldBe Set("Bulbasaur")
  }

  test("array contains (P6) + nested cmp AND-joined (P7)") {
    val preds = Seq(Contains("type", "Flying"), Cmp("base.HP", CmpOp.Gte, 50))
    names(preds) shouldBe Set("Charizard")
    names(preds, variant = true) shouldBe Set("Charizard")
  }

  test("whole-array equality, order-sensitive (P5)") {
    names(Seq(EqList("type", Seq("Grass", "Poison")))) shouldBe Set("Bulbasaur")
    names(Seq(EqList("type", Seq("Poison", "Grass")))) shouldBe Set.empty
    names(Seq(EqList("type", Seq("Grass", "Poison"))), variant = true) shouldBe Set("Bulbasaur")
  }

  test("""P4 divergence pinned: extract-as-string equality, not the
         | reference's quoted-JSON compare (SURVEY §2.2 P4)""".stripMargin) {
    // The reference compiles {"species": "Seed Pokémon"} to
    // `json_extract(...) = 'Seed Pokémon'` (duckvdb.py:94-99), but
    // DuckDB's json_extract yields the JSON-QUOTED value
    // ("\"Seed Pokémon\""), so the reference's own comparison is
    // false-y. Graft implements the INTENDED semantics — extract AS
    // STRING, compare to the raw value — documented in SURVEY §2.2 P4.
    // This spec makes both halves of that divergence executable:
    // the raw value matches …
    names(Seq(Eq("species", "Seed Pokémon"))) shouldBe Set("Bulbasaur")
    names(Seq(Eq("species", "Seed Pokémon")), variant = true) shouldBe Set("Bulbasaur")
    // … and the JSON-quoted text (the reference's effective operand)
    // is treated as a LITERAL string, never stripped — so it matches
    // nothing, on both filter compilers.
    names(Seq(Eq("species", "\"Seed Pokémon\""))) shouldBe Set.empty
    names(Seq(Eq("species", "\"Seed Pokémon\"")), variant = true) shouldBe Set.empty
  }

  test("""keys with spaces are unaddressable via dotted paths — same
         | split-on-dot limitation as the reference (duckvdb.py:66-70)""".stripMargin) {
    // "base.Sp. Attack" does not resolve to base["Sp. Attack"]; the
    // filter must select nothing (not crash) on both compilers
    val preds = Seq(Cmp("base.Sp. Attack", CmpOp.Gt, 0))
    names(preds) shouldBe Set.empty
    names(preds, variant = true) shouldBe Set.empty
  }

  test("arrays-of-arrays survive the JSON round trip and are addressable") {
    // profile.ability is [[name, hidden], ...]; inner arrays via index path
    val first = docs.select(
      get_json_object(col("metadata"), "$.profile.ability[0][0]").as("a")).as[String].collect()
    first.toSet shouldBe Set("Overgrow", "Blaze", "Torrent")
    // contains over the stringified inner arrays does not crash
    names(Seq(Contains("profile.ability", "no-such"))) shouldBe Set.empty
  }

  test("full lifecycle over the pokemon fixture: insert → dedup → filtered kNN") {
    val wh = tempDir("graft-pokemon")
    val db = new VectorDB(spark, "pokemon", wh, "hashing", Map("dim" -> "32"),
      dim = 32, newTable = true)
    db.insert(docs.as[String], embedField = Some("species"))
    db.insert(docs.as[String], embedField = Some("species")) // idempotent re-insert
    db.table.numRows shouldBe 4
    val hits = db.query("fire lizard", k = 3,
      filters = Seq(Cmp("base.Attack", CmpOp.Gt, 50), Contains("type", "Fire")))
      .collect()
    hits.length shouldBe 2 // Charmander, Charizard pass the filters
    all(hits.map(_.id)) should not be empty
  }
}
