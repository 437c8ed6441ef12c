"""Deterministic synthetic transcripts table (the pipeline's scale input).

Schema is the authoritative ``BASELINE.json.input_hint`` shape:
``conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp``.  Synthesis is fully distributed and seed-deterministic:
``spark.range`` + ``xxhash64`` drive every choice, so the same (sf, seed)
produces identical rows at any parallelism — no Python RNG, no driver
loops, no external data.  Entity mentions are planted from a fixed
gazetteer with known alias clusters, so expected mentions / triples /
co-reference components are computable in closed form by tests and
oracles (FIXTURES.md §1 guidance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_frame

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

# Fixed gazetteer: entity_id -> aliases.  Aliases of one entity share
# character shingles (so MinHash clusters them); distinct entities don't.
GAZETTEER: dict[str, list[str]] = {
    "ent:franklin": ["John Hope Franklin", "Franklin, John Hope", "J.H. Franklin"],
    "ent:curie": ["Marie Curie", "Curie, Marie", "M. Curie"],
    "ent:turing": ["Alan Turing", "Turing, Alan", "A.M. Turing"],
    "ent:lovelace": ["Ada Lovelace", "Lovelace, Ada", "Countess Ada Lovelace"],
    "ent:amsterdam": ["Amsterdam", "Amsterdam Netherlands", "Amsterdam NL"],
    "ent:denhaag": ["Den Haag", "The Hague", "Den Haag Zuid-Holland"],
    "ent:spark": ["Apache Spark", "Spark engine", "Apache Spark engine"],
    "ent:iceberg": ["Apache Iceberg", "Iceberg tables", "Apache Iceberg tables"],
    "ent:kb": ["Koninklijke Bibliotheek", "Koninklijke Bibliotheek KB"],
    "ent:seecr": ["Seecr", "Seecr Seek You Too"],
}

ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "calculator", "retrieval", "linker"]

_ALIAS_LIST = [alias for aliases in GAZETTEER.values() for alias in aliases]
_ALIAS_TO_ENTITY = {
    alias: entity for entity, aliases in GAZETTEER.items() for alias in aliases
}

_TEMPLATES = [
    "We discussed {A} together with {B} in depth.",
    "Tell me about {A}; also compare with {B} please.",
    "The report covers {A} and mentions {B} briefly.",
    "According to {A} the work of {B} was essential.",
    "Notes: {A} visited {B} last spring.",
]


def _pick(expr, options: list[str], salt: int):
    """Deterministic pick from a literal list by hashing ``expr``."""
    arr = F.array(*[F.lit(o) for o in options])
    idx = F.pmod(F.xxhash64(expr, F.lit(salt)), F.lit(len(options))) + 1
    return F.element_at(arr, idx.cast("int"))


def synthesize_transcripts(spark: SparkSession, n_conversations: int,
                           turns_per_conv: int = 10, seed: int = 42,
                           partitions: int | None = None) -> DataFrame:
    """Build the transcripts DataFrame; ~``n_conversations x turns_per_conv``
    rows, deterministic in (n, turns, seed) regardless of parallelism."""
    total = n_conversations * turns_per_conv
    df = spark.range(0, total, 1, partitions or spark.sparkContext.defaultParallelism)
    conv = (F.col("id") / turns_per_conv).cast("long")
    turn = F.pmod(F.col("id"), F.lit(turns_per_conv)).cast("int")
    conv_id = F.format_string("conv-%08d", conv)

    role = _pick(F.struct(conv, turn, F.lit(seed)), ROLES, 1)
    alias_a = _pick(F.struct(conv, turn, F.lit(seed)), _ALIAS_LIST, 2)
    alias_b = _pick(F.struct(conv, turn, F.lit(seed)), _ALIAS_LIST, 3)
    template = _pick(F.struct(conv, turn, F.lit(seed)), _TEMPLATES, 4)
    text = F.replace(F.replace(template, F.lit("{A}"), alias_a),
                     F.lit("{B}"), alias_b)
    tool = F.when(role == "tool", _pick(F.struct(conv, turn, F.lit(seed)), TOOLS, 5))
    ts = F.timestamp_seconds(
        F.lit(1_700_000_000) + conv * 3600 + turn * 30)

    return df.select(
        conv_id.alias("conv_id"),
        turn.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


def gazetteer_df(spark: SparkSession) -> DataFrame:
    """(alias, entity_id, alias_len) dimension table — small, broadcastable."""
    rows = [(alias, entity, len(alias))
            for entity, aliases in GAZETTEER.items() for alias in aliases]
    return local_frame(spark, rows, "alias string, entity string, alias_len int")
