"""KB-build scale probe (BENCH/BASELINE.md §"KB-build scale probe").

Synthesizes an N-row KB (default 200k; persons with two-word Czech-ish
names + aliases, settlements, orgs — full attribute set) and times the
production build chain at local[*]: score_kb → build_namelist →
build_subname_map → build_artifacts (+ payload size). This is the
one-off-per-KB-snapshot cost the corpus side amortizes; re-run after any
surface-generation change (the G8 generator materially changes the
surface count) so the documented numbers track the code. ``unpickle_sec``
is the per-worker cost of loading the broadcast payload:

    PYTHONPATH=/root/repo KB_PROBE_ROWS=200000 python -m kglinker.jobs.kb_scale_probe
"""

from __future__ import annotations

import json
import os
import pickle
import time

_GIVEN = ["Jan", "Petr", "Karel", "Tomáš", "Josef", "Václav", "Antonín",
          "Jiří", "Milan", "Pavel", "Anna", "Marie", "Eva", "Božena",
          "Eliška", "Klára"]
_TOWNS = ["Praha", "Brno", "Ostrava", "Plzeň", "Olomouc", "Liberec",
          "Budějovice", "Hradec", "Pardubice", "Zlín", "Tábor", "Opava"]


def _rows(n: int):
    rows = []
    for i in range(n):
        if i % 10 == 9:
            t = _TOWNS[i % len(_TOWNS)]
            rows.append((i + 1, "settlement", f"{t} {i}", "", "", "",
                         f"{t} {i} is a town.", "", "", "", "", "", "",
                         "Czechia", "", "", "", "", "",
                         f"https://w/{i}", i % 997, i % 9973, i % 97))
            continue
        fem = i % 3 == 2
        given = _GIVEN[(8 + i) % 16 if fem else i % 8]
        # unique, declinable synthetic surname (syllables from the octal
        # digits of i; hard-consonant masc / -ová fem) — the r2 probe's
        # "unique two-word names" property
        syl = ["ba", "ce", "di", "fo", "gu", "ha", "je", "ko"]
        body = "".join(syl[int(d)] for d in oct(i)[2:])
        surn = body.capitalize() + ("ková" if fem else "k")
        name = f"{given} {surn}"
        alias = f"{given[0]}. {surn}"
        rows.append((i + 1, "person", name, f"{name} ({i})", alias, "",
                     f"{name} was a person number {i}.",
                     "F" if fem else "M", "1900-01-01", "1980-01-01",
                     "writer", "Czech", "", "", "", "", "", "", "",
                     f"https://w/{i}", i % 997, i % 9973, i % 97))
    return rows


def main() -> None:
    n = int(os.environ.get("KB_PROBE_ROWS", "200000"))
    from kglinker.automaton.build import KB_PROJECTION_COLS, build_artifacts
    from kglinker.data.kb_fixture import KB_SCHEMA
    from kglinker.kb.names import build_namelist, build_subname_map
    from kglinker.kb.scoring import score_kb
    from kglinker.runtime.session import get_spark

    spark = get_spark("kb-probe")
    spark.sparkContext.setLogLevel("ERROR")
    kb = spark.createDataFrame(_rows(n), KB_SCHEMA)

    t0 = time.time()
    scored = score_kb(kb).cache()
    scored.count()
    t_score = time.time() - t0

    t0 = time.time()
    nl = build_namelist(scored).cache()
    n_surfaces = nl.count()
    t_namelist = time.time() - t0

    t0 = time.time()
    sub = build_subname_map(scored).cache()
    n_sub = sub.count()
    t_sub = time.time() - t0

    t0 = time.time()
    art = build_artifacts(
        (r.asDict() for r in scored.select(*KB_PROJECTION_COLS)
         .toLocalIterator(prefetchPartitions=True)),
        (r.asDict() for r in nl.toLocalIterator(prefetchPartitions=True)),
        (r.asDict() for r in sub.toLocalIterator(prefetchPartitions=True)))
    t_compile = time.time() - t0
    payload = art.dumps()
    payload_mb = len(payload) / 1e6
    t0 = time.time()
    pickle.loads(payload)
    t_unpickle = time.time() - t0

    print(json.dumps({
        "kb_rows": n, "score_sec": round(t_score, 1),
        "namelist_sec": round(t_namelist, 1), "n_surfaces": n_surfaces,
        "subnames_sec": round(t_sub, 1), "n_subnames": n_sub,
        "compile_sec": round(t_compile, 1),
        "payload_mb": round(payload_mb, 1),
        "unpickle_sec": round(t_unpickle, 2)}))


if __name__ == "__main__":
    main()
