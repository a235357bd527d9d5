"""Fuzzed parity of ``DatasetManifest.query`` against the per-label planner
it replaced.

The oracle below is the former implementation, kept verbatim apart from
being a free function over a plain dict: the ``==`` segment match and
the parse loop with its per-directory ``decisions`` cache, plus the
``partition_values`` fallback and the ``parse_partition_values`` it used.
Every case compares label lists (order included) or, when the oracle
raises, the exception type and message. No Spark session; fixed seed.
"""

from __future__ import annotations

import datetime as dt
import random
from typing import Any

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from kartothek_spark.core.manifest import (
    DatasetManifest,
    _SidecarPartitions,
    _equality_segments,
    _typed_value,
)
from kartothek_spark.core.predicates import evaluate_predicates_py
from kartothek_spark.core.urlencode import quote, unquote

SEED = 20261019
DATASETS = 160
QUERIES = 12

# -- oracle: the former planner ----------------------------------------------


def _old_parse_partition_values(label: str, partition_keys: list[str]) -> dict[str, str]:
    out: dict[str, str] = {}
    for seg in label.split("/"):
        if "=" in seg:
            k, _, v = seg.partition("=")
            if k in partition_keys:
                out[k] = unquote(v)
    missing = [k for k in partition_keys if k not in out]
    if missing:
        raise ValueError(f"partition label {label!r} lacks keys {missing}")
    return out


def _old_partition_values(self, label: str) -> dict[str, Any]:
    raw = _old_parse_partition_values(label, self.partition_keys)
    by_name = {f.name: f.dataType for f in self.schema.fields}
    return {
        k: _typed_value(v, by_name[k], binary_codec=self.binary_codec)
        for k, v in raw.items()
    }


def oracle_query(self, partitions: dict, predicates=None, **kwargs: Any) -> list[str]:
    if kwargs:
        extra = [[(k, "==", v) for k, v in kwargs.items()]]
        predicates = extra if predicates is None else [
            list(conj) + eq for conj in predicates for eq in extra
        ]
    if not self.partition_keys or predicates is None:
        return list(partitions)

    by_name = {f.name: f.dataType for f in self.schema.fields}
    key_set = set(self.partition_keys)
    casters = {k: by_name[k] for k in self.partition_keys if k in by_name}

    segs_dnf = None if self.external_root else _equality_segments(predicates, casters)
    if segs_dnf is not None:
        if len(segs_dnf) == 1 and len(segs_dnf[0]) == 1:
            seg = segs_dnf[0][0]  # single point predicate: tightest loop
            head = seg[1:]
            return [
                lbl
                for lbl in partitions
                if lbl.startswith(head) or seg in lbl
            ]
        return [
            lbl
            for lbl in partitions
            if any(
                all(lbl.startswith(seg[1:]) or seg in lbl for seg in conj)
                for conj in segs_dnf
            )
        ]

    decisions: dict[str, bool] = {}
    out = []
    for label in partitions:
        prefix = label.rpartition("/")[0]
        dec = decisions.get(prefix)
        if dec is None:
            values: dict[str, Any] = {}
            for seg in prefix.split("/"):
                eq = seg.find("=")
                if eq > 0:
                    k = seg[:eq]
                    if k in key_set:
                        v = seg[eq + 1:]
                        if "%" in v:
                            v = unquote(v)
                        values[k] = _typed_value(
                            v, casters[k], binary_codec=self.binary_codec
                        )
            if len(values) < len(key_set):
                # fall back to the strict parser (raises with the
                # missing-keys message) for malformed labels
                values = _old_partition_values(self, label)
            dec = bool(evaluate_predicates_py(predicates, values))
            decisions[prefix] = dec
        if dec:
            out.append(label)
    return out


# -- random datasets ------------------------------------------------------------

TYPES = {
    "i": T.IntegerType(),
    "l": T.LongType(),
    "f": T.DoubleType(),
    "b": T.BooleanType(),
    "d": T.DateType(),
    "t": T.TimestampType(),
    "s": T.StringType(),
    "x": T.BinaryType(),
}


def _value(rng: random.Random, kind: str):
    if kind in ("i", "l"):
        return rng.choice([-3, 0, 1, 2, 7, 10, 12345])
    if kind == "f":
        return rng.choice([-1.5, 0.0, 0.25, 2.0, 1e6])
    if kind == "b":
        return rng.choice([True, False])
    if kind == "d":
        return dt.date(2020, 1, 1) + dt.timedelta(days=rng.choice([0, 1, 31, 400]))
    if kind == "t":
        return dt.datetime(2021, 6, 15, 12, 30) + dt.timedelta(seconds=rng.choice([0, 1, 3600]))
    if kind == "s":
        return rng.choice(["a", "bb", "z-1", "a b", "50%", "x/y", "k=v", "é", ""])
    return rng.choice([b"", b"\x00", b"ab", b"\xff\xfe", b"%2F"])


def _render(rng: random.Random, kind: str, v, external: bool) -> str:
    """A label segment value: the writer's rendering, or, on an external
    dataset, sometimes a foreign writer's equivalent one."""
    if kind in ("i", "l"):
        if external and rng.random() < 0.4:
            return rng.choice([f"{v:03d}" if v >= 0 else str(v), f"+{v}" if v >= 0 else str(v)])
        return str(v)
    if kind == "f":
        return rng.choice([str(v), repr(v), f"{v:.2f}"]) if external else str(v)
    if kind == "b":
        return rng.choice(["true", "True", "1"] if v else ["false", "False", "0"])
    if kind == "d":
        return v.isoformat() if not external or rng.random() < 0.6 else v.strftime("%Y%m%d")
    if kind == "t":
        s = rng.choice([str(v), v.isoformat()])
        return quote(s) if rng.random() < 0.5 else s
    if kind == "s":
        return quote(v)
    if external:
        return quote(v)  # percent codec: the reference's layout
    return "x" + v.hex()


BAD = {"i": "abc", "l": "1.5", "f": "one", "d": "2020-13-01", "t": "noon", "x": "zz"}


def _dataset(rng: random.Random):
    kinds = rng.sample(sorted(TYPES), rng.randint(1, 3))
    keys = [f"k{n}{kind}" for n, kind in enumerate(kinds)]
    external = rng.random() < 0.35
    schema = T.StructType(
        [T.StructField(k, TYPES[kind]) for k, kind in zip(keys, kinds)]
        + [T.StructField("v", T.LongType())]
    )
    m = DatasetManifest(
        dataset_uuid="fz", root="/nonexistent", schema=schema, partition_keys=keys,
        external_root="ext" if external else None,
    )
    parts: dict[str, dict] = {}
    malformed = rng.random() < 0.15
    for _ in range(rng.randint(0, 14)):
        segs = [f"{k}={_render(rng, kind, _value(rng, kind), external)}"
                for k, kind in zip(keys, kinds)]
        name = None
        if rng.random() < 0.2:
            segs.insert(rng.randrange(len(segs) + 1), "extra")
        if rng.random() < 0.1:  # a key twice: the last directory one counts
            j = rng.randrange(len(keys))
            value = _render(rng, kinds[j], _value(rng, kinds[j]), external)
            segs.insert(rng.randrange(len(segs) + 1), f"{keys[j]}={value}")
        if malformed and rng.random() < 0.3:
            j = rng.randrange(len(segs))
            kind = dict(zip(keys, kinds)).get(segs[j].partition("=")[0])
            if rng.random() < 0.5 or kind not in BAD:
                gone = segs.pop(j)  # a label lacking a key ...
                if rng.random() < 0.3:
                    # ... in its directories, not in its file name. Its
                    # directory is its own: see test_file_name_key_...
                    name = gone
                    segs.insert(0, f"d{len(parts)}")
            else:
                segs[j] = segs[j].partition("=")[0] + "=" + BAD[kind]
        for f in range(rng.choice([1, 1, 2, 3])):  # several files per directory
            label = "/".join(segs + [name or f"part-{len(parts):04d}-{f}.parquet"])
            parts[label] = {"file": f"fz/table/{label}"}
    return m, kinds, parts


def _literal(rng: random.Random, keys, kinds):
    j = rng.randrange(len(keys) + 1)
    if j == len(keys):
        return ("v", rng.choice(["==", "<"]), rng.randint(0, 5))  # not a key
    key, kind = keys[j], kinds[j]
    ops = ["==", "==", "!=", "in"] + (["<", "<=", ">", ">="] if kind != "b" else [])
    op = rng.choice(ops)
    if rng.random() < 0.05:
        value: Any = "text" if kind != "s" else 3  # mismatched literal type
    elif rng.random() < 0.05:
        value = None
    else:
        value = _value(rng, kind)
    if op == "in":
        value = [value] + [_value(rng, kind) for _ in range(rng.randint(0, 3))]
    return (key, op, value)


def _predicates(rng: random.Random, keys, kinds):
    return [
        [_literal(rng, keys, kinds) for _ in range(rng.randint(0, 3))]
        for _ in range(rng.randint(1, 3))
    ]


def _outcome(fn):
    try:
        return ("ok", fn())
    except Exception as e:  # compared by type and message
        return ("raise", type(e), str(e))


def _lazy(parts: dict) -> _SidecarPartitions:
    return _SidecarPartitions(
        pa.array(list(parts), pa.string()),
        pa.array([e["file"] for e in parts.values()], pa.string()),
    )


def _overlaid(rng: random.Random, parts: dict) -> tuple[_SidecarPartitions, dict]:
    """A lazy map over a random base plus random plain appends/deletes,
    and the plain dict those same operations give."""
    labels = list(parts)
    base = dict(rng.sample(list(parts.items()), rng.randint(0, len(labels))))
    base = {lbl: base[lbl] for lbl in labels if lbl in base}  # keep order
    lazy, mirror = _lazy(base), dict(base)
    for lbl in labels:
        if lbl in mirror and rng.random() < 0.3:
            del lazy[lbl], mirror[lbl]
        elif lbl not in mirror and rng.random() < 0.8:
            lazy[lbl] = {"file": parts[lbl]["file"]}
            mirror[lbl] = {"file": parts[lbl]["file"]}
    assert lazy._dict is None
    return lazy, mirror


def test_query_matches_former_planner():
    rng = random.Random(SEED)
    shapes = {"segment": 0, "typed": 0, "raise": 0}
    for _ in range(DATASETS):
        m, kinds, parts = _dataset(rng)
        keys = m.partition_keys
        lazy_parts, lazy_mirror = _overlaid(rng, parts)
        maps = [("inline", dict(parts), parts), ("lazy", _lazy(parts), parts),
                ("overlaid", lazy_parts, lazy_mirror)]
        for q in range(QUERIES):
            preds = _predicates(rng, keys, kinds)
            kwargs = {}
            if q % 5 == 0:  # the **kwargs shorthand, with or without a DNF
                kwargs = {keys[0]: _value(rng, kinds[0])}
                preds = None if q % 10 == 0 else preds
            casters = {k: TYPES[kind] for k, kind in zip(keys, kinds)}
            canonical = not m.external_root and _equality_segments(preds, casters)
            shapes["segment" if canonical else "typed"] += 1
            for name, mapping, mirror in maps:
                m.partitions = mapping
                want = _outcome(lambda: oracle_query(m, mirror, preds, **kwargs))
                got = _outcome(lambda: m.query(preds, **kwargs))
                assert got == want, (name, keys, preds, kwargs, list(mirror))
                shapes["raise"] += want[0] == "raise"
            assert maps[1][1]._dict is None and maps[2][1]._dict is None
    # the generator reaches every path it is meant to
    assert min(shapes.values()) > 20, shapes


def test_partition_values_decodes_like_the_former_parser():
    rng = random.Random(SEED + 1)
    for _ in range(DATASETS):
        m, _, parts = _dataset(rng)
        for lbl in parts:
            want = _outcome(lambda: _old_partition_values(m, lbl))
            assert _outcome(lambda: m.partition_values(lbl)) == want, lbl


def test_first_failing_label_in_map_order_raises():
    """Two different faults: the one the former planner met first (the
    earlier label) is the one raised, and a fault in a deleted base label
    or behind a false literal raises nothing."""
    schema = T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())])
    m = DatasetManifest(dataset_uuid="fz", root="/nonexistent", schema=schema,
                        partition_keys=["a", "b"])
    parts = {
        "a=1/b=x/f0": {"file": "f0"},
        "a=2/b=3/f1": {"file": "f1"},
        "a=oops/b=y/f2": {"file": "f2"},
        "b=z/f3": {"file": "f3"},
    }
    for mapping in (dict(parts), _lazy(parts)):
        m.partitions = mapping
        with pytest.raises(ValueError, match="invalid literal for int"):
            m.query([[("a", "<", 2)]])
        with pytest.raises(TypeError, match="'<' not supported"):
            m.query([[("a", ">=", 2), ("b", "<", 3)]])
        mapping.pop("a=oops/b=y/f2")
        with pytest.raises(ValueError, match="lacks keys"):
            m.query([[("a", "<", 2)]])
        mapping.pop("b=z/f3")
        # the failing literal is never reached: a == 5 holds for no label
        assert m.query([[("a", "==", 5), ("b", "<", 3)], [("a", "!=", 1)]]) == ["a=2/b=3/f1"]


def test_file_name_key_decides_for_its_own_label_only():
    """A label whose key sits only in its file name decodes through the
    whole-label parse. The former planner cached decisions per directory,
    so the first such label decided for every later label of the same
    directory, whatever their own file names said (the fuzz above gives
    such labels a directory of their own). Each label now stands alone."""
    schema = T.StructType([T.StructField("a", T.IntegerType())])
    m = DatasetManifest(dataset_uuid="fz", root="/nonexistent", schema=schema,
                        partition_keys=["a"])
    parts = {"d/a=1": {"file": "f0"}, "d/a=2": {"file": "f1"}}
    for mapping in (dict(parts), _lazy(parts)):
        m.partitions = mapping
        assert oracle_query(m, parts, [[("a", "<", 2)]]) == ["d/a=1", "d/a=2"]
        assert m.query([[("a", "<", 2)]]) == ["d/a=1"]
        m.partitions["d/f2"] = {"file": "f2"}
        with pytest.raises(ValueError, match="lacks keys"):
            m.query([[("a", ">", 0)]])
