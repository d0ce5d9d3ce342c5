"""Seeded mongoexport dump for the ``migrate_mongo_influx`` workload.

Writes ``<out>/<collection>/part-NNN.json``: newline-delimited BSON
extended JSON, the layout ``SpoolCatalog`` reads. Documents carry
``$oid`` ids, ``$date`` times (relaxed ISO and canonical ``$numberLong``
spellings), ``$numberLong`` counters, plain doubles and ints, strings that
need line-protocol escaping, nested documents and a sometimes-null field.
About 5% of documents have no ``date``. One ``system.*`` collection is
included; the engine must skip it.

Alongside the dump it returns what a correct migration must produce under
``TransformSpec(drop=["_id"], rename={"date": "time"})``: docs per
collection, docs without ``date``, and the multiset of
``(series, timestamp_ns, field set)`` points. ``<out>.expected.json``
records the counts and a SHA-256 of the sorted multiset.

Run standalone: ``python3 perfbench/gen_dump.py --seed 1 --out DIR``.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import json
import pathlib
import random
from collections import Counter
from datetime import datetime, timezone

#: collection -> (docs, spool files). Unequal sizes: the largest sets the
#: wall time of a two-table-concurrent migration.
COLLECTIONS = {
    "readings": (32_000, 4),
    "alerts": (16_000, 2),
    "devices": (8_000, 2),
}
SYSTEM_COLLECTION = ("system.indexes", 3)
NO_DATE_SHARE = 0.05

_SITES = ("north hall", "east, wing", 'dock "7"', "lab\\b", "roof")
_MODELS = ["tx-100", "tx 200", "rx,300", "mk4"]
_TAGS = ["a", "b", "c", "d"]
_NOTES = ["ok", "recalibrated", "line one\nline two", "tab\there"]
_BASE_MS = 1_700_000_000_000


def _oid(rng: random.Random) -> str:
    return '{"$oid": "%024x"}' % rng.getrandbits(96)


def _date(rng: random.Random, ms: int) -> str:
    if rng.random() < 0.5:
        dt = datetime.fromtimestamp(ms // 1000, tz=timezone.utc)
        return f'{{"$date": "{dt:%Y-%m-%dT%H:%M:%S}.{ms % 1000:03d}Z"}}'
    return f'{{"$date": {{"$numberLong": "{ms}"}}}}'


@functools.lru_cache(maxsize=None)
def _meta(site: str, rack: int, tags: tuple[str, ...]) -> tuple[str, str]:
    """(document JSON, the sorted-key JSON string the source decodes it to)."""
    meta = {"site": site, "rack": rack, "tags": list(tags)}
    return json.dumps(meta), json.dumps(meta, sort_keys=True)


def _doc(rng: random.Random, coll: str, i: int) -> tuple[str, dict]:
    """One source document (JSON text without ``_id``/``date``) and the
    line-protocol fields it must become (name -> ("i"|"f"|"s", value));
    null fields are absent."""
    value = round(rng.uniform(-500, 500), rng.choice((0, 2, 6)))
    level = rng.randrange(0, 10)
    meta_doc, meta_str = _meta(
        rng.choice(_SITES), rng.randrange(40), tuple(rng.sample(_TAGS, 2))
    )
    parts = [f'"value": {value!r}', f'"level": {level}', f'"meta": {meta_doc}']
    fields = {
        "value": ("f", float(value)),
        "level": ("i", level),
        "meta": ("s", meta_str),
    }
    # the first documents of a file fix the inferred schema, so the
    # optional field is never null there
    if i >= 10 and rng.random() < 0.2:
        parts.append('"note": null')
    else:
        note = rng.choice(_NOTES)
        parts.append(f'"note": {json.dumps(note)}')
        fields["note"] = ("s", note)
    if coll == "readings":
        count = rng.randrange(1 << 40, 1 << 50)
        parts.append(f'"count": {{"$numberLong": "{count}"}}')
        fields["count"] = ("i", count)
    elif coll == "alerts":
        model = rng.choice(_MODELS)
        parts.append(f'"model": {json.dumps(model)}')
        fields["model"] = ("s", model)
    else:
        temp = rng.uniform(10, 40)
        parts.append(f'"temp": {temp!r}')
        fields["temp"] = ("f", temp)
    return ", ".join(parts), fields


def generate(seed: int, out: pathlib.Path) -> dict:
    """Write the dump under ``out`` and return its expected values."""
    rng = random.Random(seed)
    docs_per: dict[str, int] = {}
    no_date: dict[str, int] = {}
    points: Counter = Counter()
    for coll, (n_docs, n_files) in COLLECTIONS.items():
        cdir = out / coll
        cdir.mkdir(parents=True, exist_ok=True)
        docs_per[coll] = n_docs
        no_date[coll] = 0
        per_file = -(-n_docs // n_files)
        ms = _BASE_MS + rng.randrange(10**9)
        for f in range(n_files):
            lines = []
            for i in range(min(per_file, n_docs - f * per_file)):
                body, fields = _doc(rng, coll, i)
                ms += rng.randrange(1, 5000)
                line = f'{{"_id": {_oid(rng)}, {body}'
                # never in a file's first line: schema inference must see
                # `date` typed as a timestamp
                if i > 0 and rng.random() < NO_DATE_SHARE:
                    no_date[coll] += 1
                    lines.append(line + "}")
                    continue
                lines.append(f'{line}, "date": {_date(rng, ms)}}}')
                key = tuple(sorted(fields.items()))
                points[(coll, ms * 1_000_000, key)] += 1
            (cdir / f"part-{f:03d}.json").write_text("\n".join(lines) + "\n")
    name, n_sys = SYSTEM_COLLECTION
    sdir = out / name
    sdir.mkdir(parents=True, exist_ok=True)
    (sdir / "part-000.json").write_text(
        "".join(
            f'{{"_id": {_oid(rng)}, "ns": "db.c{i}", '
            f'"date": {_date(rng, _BASE_MS)}}}\n'
            for i in range(n_sys)
        )
    )
    expected = {
        "docs": docs_per,
        "no_date": no_date,
        "system_collection": name,
        "points": points,
    }
    (out.parent / f"{out.name}.expected.json").write_text(
        json.dumps(
            {
                "docs": docs_per,
                "no_date": no_date,
                "system_collection": name,
                "points": sum(points.values()),
                "points_sha256": hashlib.sha256(
                    repr(sorted(points.items())).encode()
                ).hexdigest(),
            }
        )
    )
    return expected


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    exp = generate(a.seed, pathlib.Path(a.out))
    print(json.dumps({"docs": exp["docs"], "no_date": exp["no_date"]}))


if __name__ == "__main__":
    main()
