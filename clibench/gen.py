"""Seeded input generators for the three workloads.

Each generator writes parquet files with pyarrow, whose footers carry a
null count for every column chunk, so `Checkpoint.runValidation` takes
its footer-metrics path (run.py checks this on every generated input).
The same (workload, seed, size) always gives byte-identical files.

    python3 clibench/gen.py <workload> <seed> <outDir>

writes the input under <outDir>/input and its description (rows,
planted counts) to <outDir>/meta.json.
"""

import json
import os
import random
import string
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are fixed per workload; a change of size is a change of workload.
SIZES = {
    "flagship_batch": {"turns": 240_000, "files": 96},
    "wide_nested": {"rows": 30_000, "files": 4, "copies": 2},
    "corpus_dedup": {"docs": 3_000},
}

FLAGSHIP_SCHEMA = """{
    "$schema": "http://json-schema.org/draft-04/schema#",
    "id": "http://graft.local/transcripts#",
    "type": "object",
    "required": ["conv_id", "turn_idx", "role", "text", "ts"],
    "properties": {
      "conv_id":  { "type": "string", "minLength": 1, "pattern": "^c[0-9]+$" },
      "turn_idx": { "type": "integer", "minimum": 0, "maximum": 4096 },
      "role":     { "type": "string", "enum": ["system", "user", "assistant", "tool"] },
      "text":     { "type": "string", "minLength": 0, "maxLength": 65536 },
      "tool":     { "$ref": "#/definitions/toolName" },
      "ts":       { "type": "string", "format": "date-time" }
    },
    "definitions": {
      "toolName": { "type": "string", "pattern": "^[a-z][a-z0-9_]*$" }
    },
    "dependencies": { "tool": ["role"] }
}"""
"""`graft.compile.Fixtures.flagshipSchema`, verbatim."""

TS0 = 1_700_000_000 * 1_000_000  # microseconds


def _write_files(table, out_dir, files):
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{i:05d}.parquet"),
                       compression="snappy")


def _filler(rng, size=1 << 20):
    words = ["".join(rng.choices(string.ascii_lowercase, k=rng.randint(2, 9))) for _ in range(4000)]
    text, n = [], 0
    while n < size:
        w = rng.choice(words)
        text.append(w)
        n += len(w) + 1
    return " ".join(text)


# ---------------------------------------------------------------- flagship

def flagship(seed, out_dir):
    """Transcripts table: Zipf-like conversation lengths with two hot
    conversations (skewed conv_id), varied text lengths and ~1% planted
    defects of every kind the flagship schema and the integrity checks
    catch. Expected counts are taken independently by DuckDB (checks.py).
    """
    size = SIZES["flagship_batch"]
    rng = random.Random(seed)
    filler = _filler(rng)
    roles = ["user", "assistant", "tool"]
    tools = ["search", "code_run", "fetch_url", "calc"]
    cols = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}

    def add(conv, turn, role, text, tool, ts):
        cols["conv_id"].append(conv)
        cols["turn_idx"].append(turn)
        cols["role"].append(role)
        cols["text"].append(text)
        cols["tool"].append(tool)
        cols["ts"].append(ts)

    target = size["turns"]
    hot = [4096, 4096]  # two hot conversations at the schema's turn_idx bound
    conv = 0
    while len(cols["conv_id"]) < target:
        length = hot[conv] if conv < len(hot) else min(4000, int(rng.paretovariate(1.1) * 4))
        for turn in range(length):
            role = "system" if turn == 0 else rng.choice(roles)
            tool = rng.choice(tools) if role == "tool" else None
            n = int(rng.lognormvariate(4.0, 1.0)) % 4000
            off = rng.randrange(len(filler) - n)
            cid, tidx, text = f"c{conv}", turn, filler[off:off + n]
            # key defects stay off turn 0, so no planted defect turns a
            # whole conversation into orphans
            r = rng.random() if turn else rng.uniform(0.006, 1.0)
            if r < 0.002:
                role = "operator"                          # enum
            elif r < 0.0035:
                role = None                                # required (and dependencies when tool is set)
            elif r < 0.0045:
                tidx = -1                                  # minimum
            elif r < 0.005:
                tidx = 5000 + turn                         # maximum
            elif r < 0.006:
                cid = f"z{conv}"                           # pattern (and an orphan conversation)
            elif r < 0.007:
                role, tool = None, rng.choice(tools)       # dependencies
            elif r < 0.008:
                tool = "Bad-Tool"                          # pattern via $ref
            add(cid, tidx, role, text, tool, TS0 + (conv * 3600 + turn * 7) * 1_000_000)
        conv += 1
    n_base = len(cols["conv_id"])
    for i in range(2):                                     # maxLength
        cols["text"][rng.randrange(n_base)] = "y" * (65536 + 1 + i)
    for _ in range(n_base // 300):                         # orphans: conversations without turn 0
        g = conv
        conv += 1
        for turn in range(1, rng.randint(2, 6)):
            add(f"c{g}", turn, "user", "orphan turn", None, TS0 + g * 3_600_000_000)
    for _ in range(n_base // 300):                         # duplicate keys
        j = rng.randrange(n_base)
        add(*(cols[k][j] for k in cols))
    # conversations stay contiguous (as a writer partitioned by time would
    # leave them); the orphans and copies are spread over every file
    n = len(cols["conv_id"])
    pos = [float(i) for i in range(n_base)] + [rng.uniform(0, n_base) for _ in range(n - n_base)]
    ordered = sorted(range(n), key=pos.__getitem__)
    table = pa.table({
        "conv_id": pa.array([cols["conv_id"][i] for i in ordered], pa.string()),
        "turn_idx": pa.array([cols["turn_idx"][i] for i in ordered], pa.int32()),
        "role": pa.array([cols["role"][i] for i in ordered], pa.string()),
        "text": pa.array([cols["text"][i] for i in ordered], pa.string()),
        "tool": pa.array([cols["tool"][i] for i in ordered], pa.string()),
        "ts": pa.array([cols["ts"][i] for i in ordered], pa.timestamp("us", tz="UTC")),
    })
    _write_files(table, os.path.join(out_dir, "input"), size["files"])
    with open(os.path.join(out_dir, "schema.json"), "w") as f:
        f.write(FLAGSHIP_SCHEMA)
    return {"rows": table.num_rows}


# ------------------------------------------------------------- wide_nested
#
# Each template is one property: its draft-4 schema, its arrow type, a
# clean value and a defect that fails exactly one compiled check, named
# by the (constraint) the engine reports for it. Templates are repeated
# `copies` times under numbered column names. Every combinator branch
# declares its type: the schema decoder, like the reference parser, reads
# numeric and string keywords only under a declared type.

def _ts_str(rng):
    return f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z"


def _code(rng):
    return "".join(rng.choices(string.ascii_uppercase, k=2)) + f"{rng.randint(0, 999):03d}"


TEMPLATES = [
    ("int_range", {"type": "integer", "minimum": 0, "maximum": 1000}, pa.int32(),
     lambda r: r.randint(0, 1000), lambda r: (r.randint(1001, 5000), "maximum")),
    ("int_multiple", {"type": "integer", "multipleOf": 5}, pa.int64(),
     lambda r: 5 * r.randint(0, 10 ** 6), lambda r: (5 * r.randint(0, 10 ** 6) + 2, "multipleOf")),
    ("ratio", {"type": "number", "minimum": 0, "exclusiveMinimum": True, "maximum": 1}, pa.float64(),
     lambda r: r.uniform(0.001, 1.0), lambda r: (0.0, "exclusiveMinimum")),
    ("amount", {"type": "number", "maximum": 1000}, pa.decimal128(10, 2),
     lambda r: _dec(r.randint(0, 100000)), lambda r: (_dec(r.randint(100001, 900000)), "maximum")),
    ("color", {"type": "string", "enum": ["red", "green", "blue"]}, pa.string(),
     lambda r: r.choice(["red", "green", "blue"]), lambda r: ("mauve", "enum")),
    ("sku", {"type": "string", "pattern": "^[A-Z]{3}-[0-9]{4}$"}, pa.string(),
     lambda r: "".join(r.choices(string.ascii_uppercase, k=3)) + f"-{r.randint(0, 9999):04d}",
     lambda r: ("abc-12", "pattern")),
    ("label", {"type": "string", "minLength": 2, "maxLength": 16}, pa.string(),
     lambda r: "".join(r.choices(string.ascii_lowercase, k=r.randint(2, 16))), lambda r: ("x", "minLength")),
    ("created", {"type": "string", "format": "date-time"}, pa.string(),
     _ts_str, lambda r: ("2024-13-45 25:61", "format:date-time")),
    ("email", {"type": "string", "format": "email"}, pa.string(),
     lambda r: f"u{r.randint(0, 10 ** 6)}@example.org", lambda r: ("no-at-sign.example.org", "format:email")),
    ("addr", {"type": "string", "format": "ipv4"}, pa.string(),
     lambda r: ".".join(str(r.randint(0, 255)) for _ in range(4)), lambda r: ("300.1.2.3", "format:ipv4")),
    ("host", {"type": "string", "format": "hostname"}, pa.string(),
     lambda r: f"node{r.randint(0, 999)}.example.org", lambda r: ("bad_host!.org", "format:hostname")),
    ("link", {"type": "string", "format": "uri"}, pa.string(),
     lambda r: f"https://example.org/p/{r.randint(0, 10 ** 6)}", lambda r: ("not a uri", "format:uri")),
    ("code", {"$ref": "#/definitions/code"}, pa.string(), _code, lambda r: ("lower1", "pattern")),
    ("scoped", {"$ref": "#grade"}, pa.string(),
     lambda r: r.choice(["A", "B", "C"]), lambda r: ("F", "enum")),
    ("point", {"type": "object", "required": ["x"], "additionalProperties": False,
               "properties": {"x": {"type": "integer", "minimum": 0}, "tag": {"type": "string", "enum": ["p", "q"]}}},
     pa.struct([("x", pa.int32()), ("tag", pa.string())]),
     lambda r: {"x": r.randint(0, 100), "tag": r.choice(["p", "q"])},
     lambda r: ({"x": -r.randint(1, 100), "tag": "p"}, "properties/x")),
    ("meters", {"type": "object", "patternProperties": {"^m_": {"type": "integer", "maximum": 100}}},
     pa.struct([("m_a", pa.int32()), ("m_b", pa.int32())]),
     lambda r: {"m_a": r.randint(0, 100), "m_b": r.randint(0, 100)},
     lambda r: ({"m_a": r.randint(101, 999), "m_b": 1}, "patternProperties")),
    ("extra", {"type": "object", "properties": {"id": {"type": "integer"}},
               "additionalProperties": {"type": "string", "maxLength": 4}},
     pa.struct([("id", pa.int32()), ("note", pa.string())]),
     lambda r: {"id": r.randint(0, 100), "note": "ok"},
     lambda r: ({"id": 1, "note": "too long"}, "additionalProperties")),
    ("nested", {"type": "object", "properties": {"inner": {"type": "object", "properties": {
        "score": {"type": "number", "maximum": 1.0}, "when": {"type": "string", "format": "date-time"}}}}},
     pa.struct([("inner", pa.struct([("score", pa.float64()), ("when", pa.string())]))]),
     lambda r: {"inner": {"score": r.random(), "when": _ts_str(r)}},
     lambda r: ({"inner": {"score": 1.5 + r.random(), "when": _ts_str(r)}}, "properties/inner")),
    ("counts", {"type": "array", "items": {"type": "integer", "minimum": 0}, "maxItems": 6}, pa.list_(pa.int32()),
     lambda r: [r.randint(0, 50) for _ in range(r.randint(0, 6))],
     lambda r: ([r.randint(0, 50) for _ in range(7)], "maxItems")),
    ("pair", {"type": "array", "items": [{"type": "string", "enum": ["a", "b"]},
                                          {"type": "string", "pattern": "^[0-9]+$"}],
              "additionalItems": False}, pa.list_(pa.string()),
     lambda r: [r.choice(["a", "b"]), str(r.randint(0, 999))],
     lambda r: ([r.choice(["a", "b"]), str(r.randint(0, 999)), "x"], "additionalItems")),
    ("tags", {"type": "array", "items": {"type": "string"}, "uniqueItems": True}, pa.list_(pa.string()),
     lambda r: r.sample(["t1", "t2", "t3", "t4", "t5"], r.randint(0, 3)), lambda r: (["t1", "t1"], "uniqueItems")),
    ("bounded", {"allOf": [{"type": "integer", "minimum": 0}, {"type": "integer", "maximum": 50}]}, pa.int32(),
     lambda r: r.randint(0, 50), lambda r: (r.randint(51, 99), "allOf")),
    ("either", {"type": "string", "anyOf": [{"type": "string", "maxLength": 3},
                                           {"type": "string", "pattern": "^x"}]}, pa.string(),
     lambda r: r.choice(["ab", "xlonger"]), lambda r: ("longer", "anyOf")),
    ("band", {"type": "integer", "oneOf": [{"type": "integer", "maximum": 10},
                                            {"type": "integer", "minimum": 20}]}, pa.int32(),
     lambda r: r.choice([r.randint(0, 10), r.randint(20, 30)]), lambda r: (15, "oneOf")),
    ("word", {"type": "string", "not": {"enum": ["forbidden", "banned"]}}, pa.string(),
     lambda r: r.choice(["fine", "good"]), lambda r: ("banned", "not")),
]


def _dec(cents):
    import decimal
    return decimal.Decimal(cents).scaleb(-2)


def wide_schema(copies):
    props = {
        "conv_id": {"type": "string", "pattern": "^c[0-9]+$"},
        "turn_idx": {"type": "integer", "minimum": 0},
    }
    for c in range(copies):
        for name, schema, *_ in TEMPLATES:
            props[f"{name}_{c}"] = schema
    props["dep_src"] = {"type": "string"}
    props["dep_dst"] = {"type": "string"}
    return {
        "$schema": "http://json-schema.org/draft-04/schema#",
        "id": "http://bench.local/wide#",
        "type": "object",
        "required": ["conv_id", "turn_idx"] + [f"{t[0]}_0" for t in TEMPLATES],
        "properties": props,
        "definitions": {
            "code": {"type": "string", "pattern": "^[A-Z]{2}[0-9]{3}$"},
            "grade": {"id": "#grade", "type": "string", "enum": ["A", "B", "C"]},
        },
        "dependencies": {"dep_src": ["dep_dst"]},
    }


def wide_nested(seed, out_dir):
    """Wide draft-4 schema over a table in few files with a high
    violation rate. Every defect is planted with the one (column,
    constraint) it must produce, so expected counts are exact.
    """
    size = SIZES["wide_nested"]
    rng = random.Random(seed)
    copies, rows = size["copies"], size["rows"]
    names = [f"{t[0]}_{c}" for c in range(copies) for t in TEMPLATES]
    by_name = {f"{t[0]}_{c}": t for c in range(copies) for t in TEMPLATES}
    optional = {n for n in names if not n.endswith("_0")}
    data = {n: [] for n in ["conv_id", "turn_idx"] + names + ["dep_src", "dep_dst"]}
    planted = {}
    conv, turn = 0, 0
    for _ in range(rows):
        data["conv_id"].append(f"c{conv}")
        data["turn_idx"].append(turn)
        turn += 1
        if turn >= rng.randint(1, 12):
            conv, turn = conv + 1, 0
        for n in names:
            _, _, _, clean, defect = by_name[n]
            r = rng.random()
            if r < 0.008:
                v, constraint = defect(rng)
                planted[f"{n}|{constraint}"] = planted.get(f"{n}|{constraint}", 0) + 1
            elif n in optional and r < 0.03:
                v = None
            else:
                v = clean(rng)
            data[n].append(v)
        src = rng.choice([None, "s"])
        dst = None if src is None else ("d" if rng.random() >= 0.01 else None)
        if src is not None and dst is None:
            planted["dep_src|dependencies"] = planted.get("dep_src|dependencies", 0) + 1
        data["dep_src"].append(src)
        data["dep_dst"].append(dst)
    fields = [("conv_id", pa.string()), ("turn_idx", pa.int32())] + \
        [(n, by_name[n][2]) for n in names] + [("dep_src", pa.string()), ("dep_dst", pa.string())]
    table = pa.table({n: pa.array(data[n], t) for n, t in fields})
    _write_files(table, os.path.join(out_dir, "input"), size["files"])
    with open(os.path.join(out_dir, "schema.json"), "w") as f:
        json.dump(wide_schema(copies), f, indent=1)
    return {"rows": table.num_rows, "planted": dict(sorted(planted.items()))}


# ------------------------------------------------------------ corpus_dedup

LSH_ROWS_PER_BAND, LSH_BANDS = 2, 12  # DedupMain's LSH: K = 24 hashes in Bands = 12


def shingles(text, n=3):
    """Distinct word 3-grams, as `graft.pipeline.Dedup.shingles` builds them."""
    toks = text.strip().lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def corpus_dedup(seed, out_dir):
    """Documents with planted exact copies and near-duplicate clusters of
    varied (Zipf-like) size. `cluster` maps every planted document to its
    cluster; `edges` lists each near-duplicate with the Jaccard of its
    base, from which checks.py derives the LSH miss bound.
    """
    size = SIZES["corpus_dedup"]
    rng = random.Random(seed)
    vocab = sorted({"".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 8))) for _ in range(30000)})
    texts, cluster_of, edges = [], {}, []
    n_base = int(size["docs"] / 1.23)
    for b in range(n_base):
        words = rng.choices(vocab, k=rng.randint(40, 160))
        base = len(texts)
        texts.append(" ".join(words))
        if rng.random() < 0.08:
            for _ in range(min(6, int(rng.paretovariate(1.5)))):
                j = 0.0
                while j < 0.6:  # keep every planted edge well above the 0.5 threshold
                    v = " ".join(rng.choice(vocab) if rng.random() < 0.03 else w for w in words)
                    j = jaccard(texts[base], v)
                cluster_of[base] = base
                cluster_of[len(texts)] = base
                edges.append((len(texts), base, j))
                texts.append(v)
    for i in range(len(texts)):
        if rng.random() < 0.05:
            for _ in range(rng.randint(1, 2)):
                c = cluster_of.setdefault(i, i)
                cluster_of[len(texts)] = c
                texts.append(texts[i])
    ids = rng.sample(range(10 * len(texts)), len(texts))
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    _write_files(table, os.path.join(out_dir, "input"), 4)
    return {
        "rows": len(texts),
        "cluster": {str(ids[i]): ids[c] for i, c in cluster_of.items()},
        "edges": [[ids[v], ids[b], j] for v, b, j in edges],
    }


GENERATORS = {"flagship_batch": flagship, "wide_nested": wide_nested, "corpus_dedup": corpus_dedup}


def generate(workload, seed, out_dir):
    meta = GENERATORS[workload](seed, out_dir)
    meta.update(workload=workload, seed=seed, size=SIZES[workload])
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py <{'|'.join(GENERATORS)}> <seed> <outDir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
