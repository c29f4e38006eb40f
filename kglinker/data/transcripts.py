"""Deterministic synthetic multi-turn transcripts (BASELINE.json input_hint).

Schema: ``(conv_id: string, turn_idx: int, role: string, text: string,
tool: string, ts: timestamp)`` — FIXTURES.md §1. Text is seeded with KB
surface forms (full names, aliases, ``J. Novák``-style abbreviations, bare
surnames, pronouns ``on/ona/...``, tool names), dates in formats the
reference recognizes (``dates.py:256-279``: ``12.11.1694``,
``14. listopadu 1918``, ``1920``, ``1693-1734``), plus distractor text and
zero-mention turns. Hot-key skew: ``SearchTool`` / ``Spark`` appear in a
large fraction of conversations (the salted-join fixture of SURVEY §5).

Generation is **per-conversation pure** — ``gen_conversation(i)`` depends
only on ``(seed, i)`` — so the Spark path distributes it with
``spark.range(n).mapInPandas`` (no driver-side data, no cross-partition
state) and the single-process oracle regenerates identical rows.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), False),
])

_EPOCH = datetime(2025, 1, 1, 0, 0, 0)

# (full name, bare surname for fragment coref, pronoun gender)
_PERSONS = [
    ("Tomáš Garrigue Masaryk", "Masaryk", "M"),
    ("T. G. Masaryk", "Masaryk", "M"),
    ("George Washington", "Washington", "M"),
    ("Ludwig van Beethoven", "Beethoven", "M"),
    ("Flannery O'Connor", "Connor", "F"),
    ("Jan Novák", "Novák", "M"),
    ("Petr Novák", "Novák", "M"),
    ("Marie Curie", "Curie", "F"),
    ("Johann Gottfried Bernhard Bach", "Bach", "M"),
]
_PLACES = ["Prague", "Praha", "Brno", "Washington", "Czechia", "Germany",
           "United States", "Vltava", "Danube"]
_ORGS = ["Apache Spark", "SearchTool"]
_EVENTS = ["Battle of Austerlitz", "Prague Spring"]
_TOOLS = ["SearchTool", "SearchTool", "SearchTool", "CalcTool", "WikiTool", None]
_DISTRACTORS = [
    "the quick batch job finished without any issue",
    "please rerun the failing step and report back",
    "nothing interesting happened in this turn at all",
    "ok",
    "let me check the logs for more details",
]
_PRON = {"M": ["on", "ho", "mu"], "F": ["ona", "jí"]}


# bump when gen_conversation output changes (cache keys, corpus paths)
GEN_VERSION = 3

_CZ_MONTHS = ["ledna", "února", "března", "dubna", "května", "června",
              "července", "srpna", "září", "října", "listopadu", "prosince"]
_EN_MONTHS = ["January", "February", "March", "April", "May", "June", "July",
              "August", "September", "October", "November", "December"]


def _date_str(rng: random.Random) -> str:
    """A date in one of the reference-recognized shapes (dates.py:256-279),
    incl. the forms added in r2 (English month names, slash d/m/y,
    month-name intervals, decades)."""
    kind = rng.randrange(8)
    y = rng.randrange(1700, 2024)
    m = rng.randrange(1, 13)
    d = rng.randrange(1, 29)
    if kind == 0:
        return f"{d}.{m}.{y}"
    if kind == 1:
        return f"{d}. {_CZ_MONTHS[m - 1]} {y}"
    if kind == 2:
        return str(y)
    if kind == 3:
        return f"{y}-{y + rng.randrange(1, 60)}"
    if kind == 4:
        return f"{_EN_MONTHS[m - 1]} {d}, {y}"          # June 6, 2005
    if kind == 5:
        return f"{d}/{m}/{y}"                            # 12/11/1694
    if kind == 6:
        return (f"{_EN_MONTHS[m - 1]}, {y} - "           # March, 1856 - 1941
                f"{y + rng.randrange(1, 40)}")
    return f"{y - y % 10}s"                              # 1690s


def gen_conversation(conv_idx: int, seed: int = 42) -> list[dict]:
    """All turns of one conversation; pure function of (seed, conv_idx)."""
    rng = random.Random(f"{seed}:{conv_idx}")
    conv_id = f"conv_{conv_idx:08d}"
    n_turns = rng.randrange(4, 11)
    base_ts = _EPOCH + timedelta(minutes=7 * conv_idx)
    rows: list[dict] = []
    last_person: tuple[str, str, str] | None = None
    for t in range(n_turns):
        role = ["user", "assistant", "tool"][t % 3]
        tool = rng.choice(_TOOLS)
        k = rng.randrange(10)
        if k < 2:
            text = rng.choice(_DISTRACTORS)
        elif k == 2:
            p = rng.choice(_PERSONS)
            last_person = p
            text = f"{p[0]} was born {_date_str(rng)} ."
        elif k == 3:
            p = rng.choice(_PERSONS)
            last_person = p
            text = f"{p[0]} visited {rng.choice(_PLACES)} in {rng.randrange(1800, 2024)} ."
        elif k == 4 and last_person is not None:
            pron = rng.choice(_PRON[last_person[2]])
            text = f"later {pron} moved to {rng.choice(_PLACES)} ."
        elif k == 5 and last_person is not None:
            text = f"{last_person[1]} also wrote about {rng.choice(_PLACES)} ."
        elif k == 6:
            # hot key: the skew fixture — Spark/SearchTool flood
            text = f"I asked {rng.choice(_ORGS)} to summarize {rng.choice(_PLACES)} ."
        elif k == 7:
            text = f"the {rng.choice(_EVENTS)} took place near {rng.choice(_PLACES)} ."
        elif k == 8:
            text = f"see {rng.choice(_PLACES)} and {rng.choice(_PLACES)} in the map from {_date_str(rng)} ."
        elif k == 9 and rng.randrange(2) == 0:
            # G8: inflected Czech mention of a person (oblique case) —
            # forms come from the declension generator, so every person
            # the corpus mentions obliquely is linkable via the same
            # generator-built namelist
            from kglinker.kb.expand import czech_inflections
            p = rng.choice(_PERSONS)
            forms = czech_inflections(p[0], p[2])
            if forms:
                last_person = p
                text = f"psali jsme o {rng.choice(forms)} a {rng.choice(_PLACES)} ."
            else:
                text = f"{p[0]} appeared in the report ."
                last_person = p
        else:
            p = rng.choice(_PERSONS)
            last_person = p
            text = f"{p[0]} and {rng.choice(_PERSONS)[0]} met in {rng.choice(_PLACES)} ."
        rows.append({
            "conv_id": conv_id,
            "turn_idx": t,
            "role": role,
            "text": text,
            "tool": tool,
            "ts": base_ts + timedelta(seconds=30 * t),
        })
    return rows


def transcripts_pdf(n_convs: int, seed: int = 42) -> pd.DataFrame:
    """Single-process variant for the pytest oracle."""
    rows = [r for i in range(n_convs) for r in gen_conversation(i, seed)]
    return pd.DataFrame(rows, columns=[f.name for f in TRANSCRIPTS_SCHEMA])


def transcripts_df(spark: SparkSession, n_convs: int, seed: int = 42,
                   partitions: int | None = None) -> DataFrame:
    """Distributed generation: ``spark.range`` over conversation indices →
    ``mapInPandas`` expansion. Scales to any ``n_convs`` with zero driver
    data; partition count controls downstream parallelism."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    def expand(batches):
        for pdf in batches:
            out = [r for i in pdf["id"] for r in gen_conversation(int(i), seed)]
            yield pd.DataFrame(out, columns=[f.name for f in TRANSCRIPTS_SCHEMA])

    ids = spark.range(0, n_convs).repartition(partitions)
    return ids.mapInPandas(expand, TRANSCRIPTS_SCHEMA)
