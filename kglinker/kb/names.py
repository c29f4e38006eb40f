"""Namelist (surface-form dictionary) builder — SURVEY §2.2 P1–P7,
§2.3 G1–G11, §2.4 A1–A2.

Spark re-expression of ``create_cedar.sh`` → ``KB2namelist.py`` →
``uniq_namelist.py``: one ``mapInArrow`` pass over the (small) KB does
the per-row string work — P1/P3/P4 base surfaces, the G1–G10 generators
and the P2 filter — with the :mod:`kglinker.kb.expand` kernels, the one
definition of a surface's normal form, and carries each row's
``confidence`` out with its surfaces; the A1 group-merge and A2
confidence ordering are a single ``groupBy(surface)`` with a
``sort_array(struct(-confidence, kb_id))`` — exactly the reference's
"order candidate ids by KB CONFIDENCE desc, fragment sentinel last"
(``uniq_namelist.py:52-104``). The subname map is the same shape: one
``mapInArrow`` pass, one ``groupBy(subname)``.

Both Python passes run over the scored KB's own partitions (``score_kb``
does not repartition), once per frame, with no join and no Python-fed
side input: the G11/P7 constant rows are a local table.

Scale: the KB is the *small* side of this engine (10^6–10^8 rows vs 10^12
turns). Each build is a one-shuffle batch job whose output is
collected to the driver once per KB snapshot to compile the matching
automaton (see :mod:`kglinker.automaton.build`) — the Spark analogue of the
reference's offline ``create_cedar.sh`` automaton compilation.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kglinker.data.wordlists import (ALLOWLIST, NATIONALITIES, PRONOUNS,
                                     STOPLIST)
from kglinker.kb import expand as X

__all__ = ["build_namelist", "build_subname_map", "build_uri_namelist",
           "nationality_forms"]

def nationality_forms() -> set[str]:
    """All P7 nationality variants (natToKB.py:12-30)."""
    return {v for n in NATIONALITIES for v in X.nationality_variants(n)} | set(NATIONALITIES)


def _stop_variants() -> set[str]:
    """Stoplist expanded by capitalization variants (create_cedar.sh:158-165)."""
    out = set()
    for s in STOPLIST:
        out.update({s, s.lower(), s.upper(), s[:1].upper() + s[1:].lower()})
    return out


def _ranked_ids() -> F.Column:
    """A2 aggregate: the group's distinct non-null ``kb_id``s ordered by
    confidence desc, ties by kb_id asc (uniq_namelist.py:52-104)."""
    return F.array_distinct(F.transform(
        F.array_sort(F.collect_list(
            F.when(F.col("kb_id").isNotNull(),
                   F.struct((-F.coalesce("confidence", F.lit(0.0))).alias("negconf"),
                            F.col("kb_id").alias("id"))))),
        lambda s: s["id"]))


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


_ROW_COLS = ("kb_id", "type", "gender", "confidence", "name", "aliases",
             "redirects", "country", "source_loc", "description")
_SURFACE_SCHEMA = pa.schema([("surface", pa.string()), ("kb_id", pa.int64()),
                             ("type", pa.string()), ("is_fragment", pa.bool_()),
                             ("confidence", pa.float64())])
_SURFACE_DDL = ("surface string, kb_id long, type string, is_fragment boolean, "
                "confidence double")
_SUBNAME_SCHEMA = pa.schema([("subname", pa.string()), ("kb_id", pa.int64()),
                             ("confidence", pa.float64())])
_SUBNAME_DDL = "subname string, kb_id long, confidence double"


def _record_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    cols = list(zip(*rows)) if rows else [[]] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(v, type=f.type) for v, f in zip(cols, schema)],
        schema=schema)


def _surface_batches(batches, inflection_floor: float | None,
                     vocative: bool):
    """Scored KB rows → ``(surface, kb_id, type, is_fragment, confidence)``:
    the P1/P4 base surfaces (NAME + ALIASES + REDIRECTS, tags and word flags
    stripped, KB2namelist.py:146-165,407) + G1–G7 variants of the
    P3-normalized NAME + G8 inflections of every base surface (rows at or
    above ``inflection_floor``) minus P2-unsuitable forms
    (KB2namelist.py:210-250); for person rows also the G9 subname
    fragments (sentinel N, uniq_namelist.py:101-104) and the G10 bare
    surname as a direct entry at confidence ≥ 20, ≥ 15 for fictional
    persons (KB2namelist.py:452-474). One Python pass per batch; kb_id
    stays null on fragments — fragment→candidate mapping lives in the
    separate subname map (D7), like the reference's namedict. Each entry
    carries its row's ``confidence`` for the A2 ordering."""
    allow = frozenset(ALLOWLIST)
    for rb in batches:
        out: list[tuple] = []
        cols = [rb.column(c).to_pylist() for c in _ROW_COLS]
        for kb_id, t, g, conf, raw, al, rd, c, sl, d in zip(*cols):
            etype = t or ""
            base = etype.split(":")[0]
            name = X.normalize_ws(raw or "")
            bases = {b for b in map(X.strip_name_tags, [raw or ""]
                                    + (al or "").split("|")
                                    + (rd or "").split("|")) if b}
            forms = set(bases)
            forms.update(_variants(name, base, c or "", sl or "", d or ""))
            if inflection_floor is None or (conf is not None
                                            and conf >= inflection_floor):
                for s in bases:
                    forms |= _inflections(s, base, g or "", vocative)
            out += [(s, kb_id, t, False, conf) for s in forms
                    if not X.is_unsuitable(s, etype, allow)]
            if etype.startswith("person"):
                out += [(s, None, "person", True, None)
                        for s in X.subnames(name)]
                surname = name.split(" ")[-1]
                thresh = 15.0 if etype == "person:fictional" else 20.0
                if (len(surname) >= 2 and surname[0] == surname[0].upper()
                        and conf is not None and conf >= thresh):
                    out.append((surname, kb_id, t, False, conf))
        yield _record_batch(out, _SURFACE_SCHEMA)


def _subname_batches(batches):
    """Scored person rows → ``(subname, kb_id, confidence)``: the G9
    fragments of the P3-normalized NAME (the ``oracle_subnames`` rule)."""
    for rb in batches:
        cols = [rb.column(c).to_pylist() for c in ("kb_id", "confidence",
                                                    "name")]
        yield _record_batch(
            [(s, kb_id, conf) for kb_id, conf, raw in zip(*cols)
             for s in X.subnames(X.normalize_ws(raw or ""))],
            _SUBNAME_SCHEMA)


def build_namelist(kb_scored: DataFrame,
                   inflection_min_confidence: float | None = None,
                   vocative: bool = False) -> DataFrame:
    """KB (with ``confidence``) → namelist
    ``(surface, kb_ids: array<long> conf-desc-ordered, is_fragment: bool)``.

    Every per-row surface (P1–P4, G1–G10, the P2 filter) comes out of
    one ``mapInArrow`` pass (:func:`_surface_batches`) over the scored
    KB's partitions, with its row's confidence; the G11 pronouns and P7
    nationality forms are a local table unioned in, and the P6 stoplist
    demotion and the A1/A2 merge are one ``groupBy(surface)`` — no join.

    ``inflection_min_confidence``: optional floor — rows below it skip G8
    declension generation (their nominative surfaces still enter). The
    payload-size lever for reference-scale KBs (BENCH/BASELINE.md
    §KB-build scale probe): oblique forms of sub-threshold rows rarely
    win disambiguation, and G8 multiplies the surface count ~4×.

    ``vocative=True`` (r5, opt-in): person surfaces additionally include
    the vocative case ("Jane Nováku"), matching the reference namegen's
    grammar output; the default keeps the surface set byte-stable.
    """
    # one Python boundary per KB partition: separate scalar UDFs would
    # each plan as an ArrowEvalPython node, and a UDF filter over a union
    # is pushed into every branch
    floor = (None if inflection_min_confidence is None
             else float(inflection_min_confidence))
    generated = (kb_scored
                 .select(*_ROW_COLS)
                 .mapInArrow(lambda it: _surface_batches(it, floor,
                                                         bool(vocative)),
                             _SURFACE_DDL))

    # G11 pronouns + P7 nationality forms → fragment, senseless rows. From
    # pandas, so they plan as a LocalTableScan: a list of tuples would be a
    # Python-fed RDD scan with its own Python tasks. One partition: split
    # over defaultParallelism, each slice would be a task of its own.
    spark = kb_scored.sparkSession
    extra = spark.createDataFrame(pd.DataFrame(
        [(p, None, "pronoun", True, None) for p in
         sorted({w for p in PRONOUNS for w in (p, p[:1].upper() + p[1:])})]
        + [(n, None, "nationality", True, None)
           for n in sorted(nationality_forms())],
        columns=_SURFACE_SCHEMA.names), _SURFACE_DDL).coalesce(1)
    all_rows = generated.unionByName(extra)

    # P6 stoplist: demote to fragment-only (uniq_namelist.py:33-39)
    stop = sorted(_stop_variants())
    all_rows = all_rows.withColumn(
        "kb_id", F.when(F.col("surface").isin(stop), F.lit(None)).otherwise(F.col("kb_id"))
    ).withColumn(
        "is_fragment", F.when(F.col("surface").isin(stop), F.lit(True)).otherwise(F.col("is_fragment")))

    # A1 group-merge + A2 confidence-desc candidate ordering
    return (all_rows
            .groupBy("surface")
            .agg(_ranked_ids().alias("kb_ids"),
                 F.max(F.col("is_fragment").cast("int")).cast("boolean")
                 .alias("is_fragment")))


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
            .agg(_ranked_ids().alias("kb_ids"),
                 F.lit(False).alias("is_fragment")))


def build_subname_map(kb_scored: DataFrame) -> DataFrame:
    """D7 coref support: subname → confidence-desc-ordered person kb_ids —
    the reference's pickled ``namedict`` / ``people_named``
    (``ner_knowledge_base.py:103-167``). Broadcast next to the automaton.
    One ``mapInArrow`` pass (:func:`_subname_batches`) over the person
    rows, one ``groupBy(subname)``."""
    persons = kb_scored.filter(F.col("type").startswith("person"))
    return (persons
            .select("kb_id", "confidence", "name")
            .mapInArrow(_subname_batches, _SUBNAME_DDL)
            .groupBy("subname")
            .agg(_ranked_ids().alias("kb_ids")))
