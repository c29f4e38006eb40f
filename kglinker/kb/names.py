"""Namelist (surface-form dictionary) builder — SURVEY §2.2 P1–P7,
§2.3 G1–G11, §2.4 A1–A2.

Spark re-expression of ``create_cedar.sh`` → ``KB2namelist.py`` →
``uniq_namelist.py``: the alias/redirect explode and tag-stripping are
Column expressions (P1/P3/P4 → ``array_union``/``regexp_replace``,
Catalyst prunes + pushes them down); the irregular generators (G1–G9) and
the P2 filter run in one ``mapInArrow`` pass over the (small) KB; the
G10 surnames stay Column expressions; the A1 group-merge and A2
confidence ordering are a single ``groupBy(surface)`` with a
``sort_array(struct(-confidence, kb_id))`` — exactly the reference's
"order candidate ids by KB CONFIDENCE desc, fragment sentinel last"
(``uniq_namelist.py:52-104``).

Scale: the KB is the *small* side of this engine (10^6–10^8 rows vs 10^12
turns). The namelist build is a one-shuffle batch job whose output is
collected to the driver once per KB snapshot to compile the matching
automaton (see :mod:`kglinker.automaton.build`) — the Spark analogue of the
reference's offline ``create_cedar.sh`` automaton compilation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kglinker.data.wordlists import (ALLOWLIST, NATIONALITIES, PRONOUNS,
                                     STOPLIST)
from kglinker.kb import expand as X

__all__ = ["build_namelist", "build_subname_map", "build_uri_namelist",
           "nationality_forms"]

_VARIANT_SCHEMA = T.ArrayType(T.StringType())


def nationality_forms() -> set[str]:
    """All P7 nationality variants (natToKB.py:12-30)."""
    return {v for n in NATIONALITIES for v in X.nationality_variants(n)} | set(NATIONALITIES)


def _stop_variants() -> set[str]:
    """Stoplist expanded by capitalization variants (create_cedar.sh:158-165)."""
    out = set()
    for s in STOPLIST:
        out.update({s, s.lower(), s.upper(), s[:1].upper() + s[1:].lower()})
    return out


@F.pandas_udf(_VARIANT_SCHEMA)
def _gen_subnames(name: pd.Series) -> pd.Series:
    """G9 fragment extraction, Arrow-batched."""
    return pd.Series([X.subnames(n) for n in name])


def _p3(s: F.Column) -> F.Column:
    """P3 (KB2namelist.py:207,408-410): drop zero-width characters,
    collapse whitespace runs to one space, trim. Column expressions on
    purpose: Java ``\\s`` and Spark ``trim`` are the namelist's
    definition of whitespace, not Python's."""
    return F.trim(F.regexp_replace(
        F.regexp_replace(s, "[\u200b\u200c\u200d\ufeff]", ""), r"\s+", " "))


def _bases() -> F.Column:
    """P1: NAME + ALIASES + REDIRECTS as one array of surface forms, with
    ``#lang=``/``#ntype=`` tags stripped (KB2namelist.py:146-165),
    whitespace normalized (P3) and empty forms dropped."""
    surfaces = F.array_union(
        F.array(F.col("name")),
        F.array_union(
            F.split(F.coalesce(F.col("aliases"), F.lit("")), r"\|"),
            F.split(F.coalesce(F.col("redirects"), F.lit("")), r"\|"),
        ),
    )
    clean = F.transform(surfaces, lambda s: _p3(
        F.regexp_replace(s, r"#(?:lang|ntype)=[^#|]*", "")))
    return F.filter(clean, lambda s: s != "")


def _variants(name: str, base: str, country: str, source_loc: str,
              description: str) -> list[str]:
    """G1–G7 variants of one KB row's NAME."""
    if base == "person":
        return X.person_variants(name)
    if base in ("organisation", "event"):
        return X.org_event_variants(name, base)
    if base == "settlement":
        return X.settlement_variants(name, country, description)
    if base == "watercourse":
        # watercourses pair with SOURCE_LOC (KB2namelist.py:380-382)
        return X.settlement_variants(name, source_loc, description)
    return []


def _inflections(surface: str, base: str, gender: str,
                 vocative: bool) -> set[str]:
    """G8: Czech oblique-case forms from the declension generator
    (kglinker/kb/czech_morph.py — the from-scratch namegen counterpart).
    Like the reference (czechnames runs over every key_inflection,
    KB2namelist.py main loop), this applies to EVERY base surface —
    persons get full-name declension plus the variant family per
    inflected form; location types get the single-word place paradigms.
    ``vocative`` opts person names into the vocative case."""
    from kglinker.kb.czech_morph import czech_location_inflections
    acc: set[str] = set()
    if base == "person":
        for f in X.czech_inflections(surface, gender, vocative=vocative):
            acc.add(f)
            acc.update(X.person_variants(f))
    elif base in ("settlement", "country", "watercourse", "geo"):
        acc.update(czech_location_inflections(surface))
    return acc


_ROW_COLS = ("kb_id", "type", "gender", "_inflect", "name", "country",
             "source_loc", "description", "_bases")
_SURFACE_DDL = "surface string, kb_id long, type string, is_fragment boolean"


def _surface_batches(batches, vocative: bool):
    """Scored KB rows → ``(surface, kb_id, type, is_fragment)``: base
    surfaces + G1–G7 variants + G8 inflections minus P2-unsuitable forms
    (KB2namelist.py:210-250), then the G9 subname fragments of person
    rows (sentinel N, uniq_namelist.py:101-104). One Python pass per
    batch; kb_id stays null on fragments — fragment→candidate mapping
    lives in the separate subname map (D7), like the reference's
    namedict."""
    import pyarrow as pa
    schema = pa.schema([("surface", pa.string()), ("kb_id", pa.int64()),
                        ("type", pa.string()), ("is_fragment", pa.bool_())])
    allow = frozenset(ALLOWLIST)
    for rb in batches:
        out: list[tuple] = []
        cols = [rb.column(c).to_pylist() for c in _ROW_COLS]
        for kb_id, t, g, infl, name, c, sl, d, bases in zip(*cols):
            etype = t or ""
            base = etype.split(":")[0]
            forms = set(bases)
            forms.update(_variants(name, base, c or "", sl or "", d or ""))
            if infl:
                for s in bases:
                    forms |= _inflections(s, base, g or "", vocative)
            out += [(s, kb_id, t, False) for s in forms
                    if not X.is_unsuitable(s, etype, allow)]
            if etype.startswith("person"):
                out += [(s, None, "person", True) for s in X.subnames(name)]
        cols = list(zip(*out)) if out else [[]] * len(schema)
        yield pa.RecordBatch.from_arrays(
            [pa.array(v, type=f.type) for v, f in zip(cols, schema)],
            schema=schema)


def build_namelist(kb_scored: DataFrame,
                   word_freq: DataFrame | None = None,
                   inflection_min_confidence: float | None = None,
                   vocative: bool = False) -> DataFrame:
    """KB (with ``confidence``) → namelist
    ``(surface, kb_ids: array<long> conf-desc-ordered, is_fragment: bool)``.

    ``word_freq`` (optional ``(word, freq)``) gates G10 bare-surname direct
    entries by capital dominance (KB2namelist.py:452-474); when absent every
    capitalized surname is treated as dominant.

    ``inflection_min_confidence``: optional floor — rows below it skip G8
    declension generation (their nominative surfaces still enter). The
    payload-size lever for reference-scale KBs (BENCH/BASELINE.md
    §KB-build scale probe): oblique forms of sub-threshold rows rarely
    win disambiguation, and G8 multiplies the surface count ~4×.

    ``vocative=True`` (r5, opt-in): person surfaces additionally include
    the vocative case ("Jane Nováku"), matching the reference namegen's
    grammar output; the default keeps the surface set byte-stable.
    """
    # G1–G10 read the P3-normalized NAME: a padded or zero-width name
    # must not leave a stray whole-name fragment or an empty surname
    kb = kb_scored.withColumn("name", _p3(F.col("name")))
    # G1–G9 in one Python boundary per KB partition: separate scalar
    # UDFs would each plan as an ArrowEvalPython node, and a UDF filter
    # over a union is pushed into every branch
    inflect = (F.lit(True) if inflection_min_confidence is None
               else F.coalesce(F.col("confidence")
                               >= float(inflection_min_confidence),
                               F.lit(False)))
    generated = (kb
                 .withColumn("_inflect", inflect)
                 .withColumn("_bases", _bases())
                 .select(*_ROW_COLS)
                 .mapInArrow(lambda it: _surface_batches(it, bool(vocative)),
                             _SURFACE_DDL))

    # G10: bare surname as a *direct* entry when confidence ≥ 20 (person) /
    # ≥ 15 (fictional) and capital-dominant (KB2namelist.py:452-474).
    persons = kb.filter(F.col("type").startswith("person"))
    thresh = F.when(F.col("type") == "person:fictional", F.lit(15.0)).otherwise(F.lit(20.0))
    surname = (persons
               .withColumn("surface", F.element_at(F.split("name", " "), -1))
               .filter((F.length("surface") >= 2)
                       & (F.substring("surface", 1, 1) == F.initcap(F.substring("surface", 1, 1)))
                       & (F.col("confidence") >= thresh))
               .select("kb_id", "type", "surface")
               .withColumn("is_fragment", F.lit(False)))
    if word_freq is not None:
        # capital dominance: freq(Capitalized) / Σ case-insensitive > 0.5
        tot = word_freq.groupBy(F.lower("word").alias("lw")).agg(F.sum("freq").alias("tot"))
        cap = (word_freq.join(tot, F.lower("word") == F.col("lw"))
               .filter(F.col("freq") / F.col("tot") > 0.5)
               .select(F.col("word").alias("surface")))
        # no broadcast hint (r4 verdict #3): cap is corpus-vocabulary-
        # sized — size-based join selection + AQE pick the strategy, so
        # a web-scale vocabulary can't pin executor memory
        surname = surname.join(cap, "surface", "left_semi")

    # G11 pronouns + P7 nationality forms → fragment, senseless rows
    spark = kb_scored.sparkSession
    extra = spark.createDataFrame(
        [(p, None, "pronoun", True) for p in
         sorted({w for p in PRONOUNS for w in (p, p[:1].upper() + p[1:])})]
        + [(n, None, "nationality", True) for n in sorted(nationality_forms())],
        _SURFACE_DDL)

    all_rows = (generated
                .unionByName(surname.select("surface", "kb_id", "type", "is_fragment"))
                .unionByName(extra))

    # P6 stoplist: demote to fragment-only (uniq_namelist.py:33-39)
    stop = sorted(_stop_variants())
    all_rows = all_rows.withColumn(
        "kb_id", F.when(F.col("surface").isin(stop), F.lit(None)).otherwise(F.col("kb_id"))
    ).withColumn(
        "is_fragment", F.when(F.col("surface").isin(stop), F.lit(True)).otherwise(F.col("is_fragment")))

    # A1 group-merge + A2 confidence-desc candidate ordering. conf is a
    # projection of the ENTIRE scored KB — no broadcast hint (r4 verdict
    # #3): at 10^7–10^8-row KBs a forced broadcast is a driver/executor
    # memory failure point; size-based selection + AQE choose.
    conf = kb_scored.select("kb_id", "confidence")
    merged = (all_rows
              .join(conf, "kb_id", "left")
              .groupBy("surface")
              .agg(
                  F.array_distinct(F.transform(
                      F.array_sort(F.collect_list(
                          F.when(F.col("kb_id").isNotNull(),
                                 F.struct((-F.coalesce("confidence", F.lit(0.0))).alias("negconf"),
                                          F.col("kb_id").alias("id"))))),
                      lambda s: s["id"])).alias("kb_ids"),
                  F.max(F.col("is_fragment").cast("int")).cast("boolean").alias("is_fragment"),
              ))
    return merged


def build_uri_namelist(kb_scored: DataFrame) -> DataFrame:
    """URI automaton input (figa ``-u``, ``create_cedar.sh:149-150``;
    ``KB2namelist.py:483-504`` ``process_uri``): every URI attribute value
    → the owning KB rows, no fragments/stoplist (the reference skips both
    for the URI variant, create_cedar.sh:158,172). Our KB carries one URI
    column (``wiki_url``); additional URL columns union in the same way.
    Output shape matches :func:`build_namelist` so the same automaton
    builder compiles it."""
    uris = (kb_scored
            .select("kb_id", "confidence",
                    F.col("wiki_url").alias("surface"))
            .filter(F.coalesce(F.col("surface"), F.lit("")) != ""))
    return (uris
            .groupBy("surface")
            .agg(F.array_distinct(F.transform(
                F.array_sort(F.collect_list(
                    F.struct((-F.coalesce("confidence", F.lit(0.0))).alias("negconf"),
                             F.col("kb_id").alias("id")))),
                lambda s: s["id"])).alias("kb_ids"),
                F.lit(False).alias("is_fragment")))


def build_subname_map(kb_scored: DataFrame) -> DataFrame:
    """D7 coref support: subname → confidence-desc-ordered person kb_ids —
    the reference's pickled ``namedict`` / ``people_named``
    (``ner_knowledge_base.py:103-167``). Broadcast next to the automaton."""
    persons = kb_scored.filter(F.col("type").startswith("person"))
    return (persons
            .select("kb_id", "confidence",
                    F.explode(_gen_subnames(_p3(F.col("name"))))
                    .alias("subname"))
            .groupBy("subname")
            .agg(F.array_distinct(F.transform(
                F.array_sort(F.collect_list(
                    F.struct((-F.col("confidence")).alias("negconf"),
                             F.col("kb_id").alias("id")))),
                lambda s: s["id"])).alias("kb_ids")))
