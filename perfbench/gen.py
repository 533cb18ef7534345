"""Seeded input generator for the benchmark.

Every value is a pure function of hashes of (seed, stream, row, position)
-- splitmix64 over numpy uint64 arrays, no RNG state -- so the same seed
always gives byte-identical parquet files, and two seeds give independent
inputs of the same shape. The engine only ever sees the generated directory.

Quantities that set how much work a pass does (lines per order, document
lengths, the language mix, stopword shares, how many copies are
near-duplicates) are dealt
out, not drawn: a fixed multiset of values is assigned in the order of a
hash ranking. The seed then changes which row gets which value and every
token, but not the totals, so runs on different seeds time the same
amount of work.

Tables follow the schemas of the engine's test tables (see TESTDATA.md):

  graphrag  part + lineitem: a TPC-H-shaped order/part star. Orders carry
            1..7 lines (equally many of each, also among the orders with
            key % 10 = 0 that q150's co-purchase graph is built from) over
            uniformly drawn parts.
  curation  documents: a base corpus of short word-salad documents over the
            engine's 30-word test vocabulary, 10..100 words long, 40% `en`,
            scaled x10 the way ScaleGen's `mutate` mode does it -- 20% of
            the extra copies are near-duplicates (2% of tokens mutated), the
            rest distinct documents (60% mutated). doc_id = base * 10 + copy,
            so the originals (copy 0) are exactly the held-out
            `doc_id % 10 = 0` set and their near-duplicates are the
            contamination q106's decontamination stage must find.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GOLDEN = np.uint64(0x9E3779B97F4A7C15)

# input sizes per workload; README.md says how they were chosen
SIZES = {
    "graphrag": {"parts": 500, "orders": 4000},
    "curation": {"base_docs": 200, "copies": 10, "dup_pct": 20},
}

VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
STOPWORDS = ["the", "a"]  # the vocabulary's words on q106's stopword list
LANGS = np.array(["en", "zh", "de", "fr", "es"])
TYPES_1 = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPES_2 = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPES_3 = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]


def _mix(x):
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def h(seed, stream, *keys):
    """Hash of (seed, stream, keys...) -> uint64 array, broadcast over keys."""
    with np.errstate(over="ignore"):
        acc = _mix(np.uint64(seed) * GOLDEN + np.uint64(stream))
        for k in keys:
            acc = _mix(acc ^ (np.asarray(k, dtype=np.uint64) * GOLDEN))
        return acc


def rank(x):
    """Position of each element of the uint64 array x in sorted order: a
    hash-driven permutation of 0..len(x)-1."""
    r = np.empty(len(x), dtype=np.int64)
    r[np.argsort(x, kind="stable")] = np.arange(len(x))
    return r


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True)


def gen_graphrag(seed, out):
    n_part = SIZES["graphrag"]["parts"]
    n_ord = SIZES["graphrag"]["orders"]
    pk = np.arange(n_part, dtype=np.int64)
    hp = h(seed, 1, pk)
    brand = ["Brand#%d%d" % (1 + a, 1 + b) for a, b in
             zip((hp % np.uint64(5)).tolist(), ((hp >> np.uint64(8)) % np.uint64(5)).tolist())]
    t1 = (hp >> np.uint64(16)) % np.uint64(len(TYPES_1))
    t2 = (hp >> np.uint64(24)) % np.uint64(len(TYPES_2))
    t3 = (hp >> np.uint64(32)) % np.uint64(len(TYPES_3))
    ptype = ["%s %s %s" % (TYPES_1[a], TYPES_2[b], TYPES_3[c])
             for a, b, c in zip(t1.tolist(), t2.tolist(), t3.tolist())]
    part = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(["part %d" % k for k in pk.tolist()]),
        "p_brand": pa.array(brand),
        "p_type": pa.array(ptype),
        "p_size": pa.array((1 + (hp >> np.uint64(40)) % np.uint64(50)).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
    })
    _write(part, os.path.join(out, "part.parquet"))

    ok = np.arange(n_ord, dtype=np.int64)
    # 1..7 lines dealt round-robin in hash order within each key % 10
    # class, so q150's sample (key % 10 = 0) is balanced too
    n_lines = np.empty(n_ord, dtype=np.int64)
    for r in range(10):
        cls = ok[ok % 10 == r]
        n_lines[cls] = 1 + rank(h(seed, 2, cls)) % 7
    l_ok = np.repeat(ok, n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    l_no = (np.arange(len(l_ok)) - starts + 1).astype(np.int32)
    hl = h(seed, 3, l_ok, l_no)
    l_pk = (hl % np.uint64(n_part)).astype(np.int64)
    l_sk = ((hl >> np.uint64(32)) % np.uint64(max(1, n_part // 20))).astype(np.int64)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_ok),
        "l_partkey": pa.array(l_pk),
        "l_suppkey": pa.array(l_sk),
        "l_linenumber": pa.array(l_no),
        "l_quantity": pa.array((1 + (hl >> np.uint64(20)) % np.uint64(50)).astype(np.float64)),
    })
    _write(lineitem, os.path.join(out, "lineitem.parquet"))
    return {"part": part.num_rows, "lineitem": lineitem.num_rows}


def _mutate(tokens, seed, base, copy, per_mille):
    """ScaleGen's token mutation: at per-mille site rate a third of the
    sites delete the token, the rest substitute a token no other document
    contains ("zq" + site hash)."""
    site = h(seed, 5, base, copy, np.arange(len(tokens)))
    out = []
    for tok, s in zip(tokens, site.tolist()):
        if s % 1000 >= per_mille:
            out.append(tok)
        elif s % 3 != 0:
            out.append("zq%d" % (s % 100000))
    return out


def gen_curation(seed, out):
    cfg = SIZES["curation"]
    n_base, copies, dup_pct = cfg["base_docs"], cfg["copies"], cfg["dup_pct"]
    b = np.arange(n_base, dtype=np.int64)
    hb = h(seed, 4, b)
    # slot j of a hash permutation gets length 10 + 91j/n and is `en` when
    # j % 5 < 2: the lengths of the en documents are the same every seed.
    # The four other languages are drawn.
    slot = rank(hb)
    lengths = (10 + slot * 91 // n_base).tolist()
    langs = np.where(slot % 5 < 2, "en",
                     LANGS[1 + ((hb >> np.uint64(16)) % np.uint64(4)).astype(np.int64)])
    sources = ["src%d" % s for s in ((hb >> np.uint64(24)) % np.uint64(20)).tolist()]
    # q106's quality gate keeps a document when its share of stopwords
    # ("the", "a") is at least 4%. That share is dealt per slot too, from a
    # permutation of 0..13.3% that does not depend on the seed, so the
    # same number of base documents pass the gate every seed. The
    # stopwords' positions and the other words are drawn.
    stop_share = rank(h(0, 8, np.arange(n_base))) * (4 / 30) / n_base
    is_stop = np.isin(VOCAB, STOPWORDS)
    stops, others = VOCAB[is_stop], VOCAB[~is_stop]
    base_tokens = []
    for i, n in enumerate(lengths):
        n_stop = int(round(n * stop_share[slot[i]]))
        at = rank(h(seed, 9, i, np.arange(n))) < n_stop
        w = h(seed, 6, i, np.arange(n))
        base_tokens.append(np.where(at, stops[(w % np.uint64(len(stops))).astype(np.int64)],
                                    others[(w % np.uint64(len(others))).astype(np.int64)]).tolist())
    ids, texts, lang_col, src_col = [], [], [], []
    # the first dup_pct% of the extra copies in hash order are near-dups
    extra = rank(h(seed, 7, b[:, None], np.arange(1, copies)[None, :]).ravel())
    near = np.zeros((n_base, copies), dtype=bool)
    near[:, 1:] = (extra < n_base * (copies - 1) * dup_pct // 100).reshape(n_base, copies - 1)
    for i in range(n_base):
        for c in range(copies):
            toks = base_tokens[i]
            if c > 0:
                toks = _mutate(toks, seed, i, c, 20 if near[i, c] else 600)
            ids.append(i * copies + c)
            texts.append(" ".join(toks))
            lang_col.append(langs[i])
            src_col.append(sources[i])
    docs = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang_col),
        "source": pa.array(src_col),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    _write(docs, os.path.join(out, "documents.parquet"))
    return {"documents": docs.num_rows}


GENERATORS = {"graphrag": gen_graphrag, "curation": gen_curation}


def generate(workload, seed, out):
    """Write the workload's tables under `out`; returns {table: rows}."""
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out)
