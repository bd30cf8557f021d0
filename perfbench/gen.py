"""Seeded input generator for the curation benchmark.

Two inputs, each a pure function of (seed, size):

* ``documents.parquet`` with the schema of graft's ``documents`` table
  (doc_id, text, lang, source, n_chars). Its shape is the one measured on
  the repository's ``documents`` test fixture (the 5 000-document sf0.1
  set; the two 500-document sets have 5-6% edits and no exact
  duplicates): see the constants below.
* ``alpaca.jsonl``: single-turn instruction records (instruction,
  input, output), one JSON object per line.

Outputs are cached per (seed, size) under the given cache directory,
next to a ``props.json`` that records the measured properties: exact
duplicate share, planted near-duplicate pairs and how many of them pass
the 0.5 word-3-gram Jaccard verification, and language shares.
"""
import json
import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Measured on the documents fixture (sf0.1, 5 000 docs):
# - 8 texts occur twice: an exact-duplicate share of 0.16%;
# - 250 docs (5.0%) are another doc's text with the word "dup" appended
#   (word-3-gram Jaccard 0.94-0.99), and no edit is the source of another;
# - each doc's language is drawn independently of the doc it copies,
#   with shares en 41%, zh 15%, es 15%, fr 15%, de 14%;
# - 10 to 100 words per doc, uniformly; 30 words ("a" and "the" among
#   them) drawn uniformly; sources src0..src19 in equal numbers.
EXACT_DUP_SHARE = 0.0016
NEAR_DUP_SHARE = 0.05
NEAR_DUP_MARK = "dup"
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]
DOC_WORDS = (10, 100)
DOC_VOCAB = 30
SOURCES = 20
# The alpaca file has no fixture; its word model and input share are
# the generator's own choice.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
VOCAB_SIZE = 4000
# bumped whenever the generated bytes for a given (seed, size) change,
# so a stale cache is never reused
GEN_VERSION = 2


def _vocab(rng):
    """VOCAB_SIZE distinct pseudo-words and Zipf-like sampling weights."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB_SIZE:
        lens = rng.integers(3, 10, size=VOCAB_SIZE)
        chars = rng.choice(letters, size=(VOCAB_SIZE, 9))
        words.update("".join(c[:n]) for c, n in zip(chars, lens))
    words = np.array(sorted(words)[:VOCAB_SIZE])
    rng.shuffle(words)
    # a few common words, a long tail
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 0.9
    return words, weights / weights.sum()


def _sentences(rng, words, weights, count, lo, hi):
    """`count` word lists of lo..hi words, with stopwords and some
    punctuation sprinkled in so the quality score varies."""
    lens = rng.integers(lo, hi + 1, size=count)
    toks = words[rng.choice(len(words), size=int(lens.sum()), p=weights)].astype(object)
    stop = rng.random(len(toks)) < 0.2
    toks[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, len(STOPWORDS), size=int(stop.sum()))]
    punct = rng.random(len(toks)) < 0.01
    toks[punct] = toks[punct] + np.array([",", ".", ";", "!"], dtype=object)[rng.integers(0, 4, size=int(punct.sum()))]
    out, at = [], 0
    for n in lens:
        out.append(list(toks[at:at + n]))
        at += n
    return out


def _shingles(text, n=3):
    toks = text.split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def documents(seed, size, out_path):
    """Write the documents corpus; return its measured properties."""
    rng = np.random.default_rng([seed, size, 1])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = {"a", "the"}
    while len(vocab) < DOC_VOCAB:
        vocab.add("".join(rng.choice(letters, size=int(rng.integers(3, 8)))))
    vocab = np.array(sorted(vocab - {NEAR_DUP_MARK}), dtype=object)
    role = rng.random(size)
    role[0] = 1.0  # the first document has nothing to copy
    exact = role < EXACT_DUP_SHARE
    near = ~exact & (role < EXACT_DUP_SHARE + NEAR_DUP_SHARE)
    lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, size=size)
    toks = vocab[rng.integers(0, len(vocab), size=int(lens.sum()))]
    langs = rng.choice(np.array([l for l, _ in LANGS]), size=size,
                       p=np.array([w for _, w in LANGS]))
    # a copy or edit takes an earlier fresh document that nothing else
    # copied, so two edits never collide into an exact duplicate
    pick = rng.random(size)
    texts, fresh, planted, at = [None] * size, [], [], 0
    for i in range(size):
        if exact[i] or near[i]:
            k = int(pick[i] * len(fresh))
            s = fresh[k]
            fresh[k] = fresh[-1]
            fresh.pop()
            texts[i] = texts[s] + (" " + NEAR_DUP_MARK if near[i] else "")
            if near[i]:
                planted.append((s, i))
        else:
            texts[i] = " ".join(toks[at:at + lens[i]])
            fresh.append(i)
        at += lens[i]
    # Shuffle ids so copies and edits land on both sides of the
    # doc_id % 10 delta split and sometimes precede their source.
    order = rng.permutation(size)  # order[doc_id] = generation index
    table = pa.table({
        "doc_id": pa.array(np.arange(size), pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "lang": pa.array([str(langs[i]) for i in order], pa.string()),
        "source": pa.array([f"src{d % SOURCES}" for d in range(size)], pa.string()),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })
    pq.write_table(table, out_path, row_group_size=max(size // 16, 1024))
    verified = sum(1 for s, e in planted if _jaccard(texts[s], texts[e]) >= 0.5)
    return {
        "docs": size,
        "exact_dup_share": round(1 - len(set(texts)) / size, 6),
        "near_dup_planted_pairs": len(planted),
        "near_dup_verified_pairs": verified,
        "lang_shares": {l: round(float((langs == l).mean()), 6) for l, _ in LANGS},
        "delta_docs": len(range(0, size, 10)),
    }


def alpaca(seed, size, out_path):
    """Write the alpaca JSONL file; return its measured properties."""
    rng = np.random.default_rng([seed, size, 2])
    words, weights = _vocab(rng)
    instructions = _sentences(rng, words, weights, size, 5, 15)
    inputs = _sentences(rng, words, weights, size, 5, 20)
    outputs = _sentences(rng, words, weights, size, 15, 60)
    has_input = rng.random(size) < 0.4
    with open(out_path, "w") as f:
        for i in range(size):
            # the record number keeps every row distinct
            f.write(json.dumps({
                "instruction": " ".join(instructions[i]) + f" #{i}",
                "input": " ".join(inputs[i]) if has_input[i] else "",
                "output": " ".join(outputs[i])}) + "\n")
    return {"rows": size, "with_input_share": round(float(has_input.mean()), 6),
            "file_bytes": os.path.getsize(out_path)}


def ensure(cache_dir, kind, seed, size):
    """Generate (or reuse) the input for one workload kind; return
    (input directory, properties)."""
    d = os.path.join(cache_dir, f"{kind}_v{GEN_VERSION}_s{seed}_n{size}")
    props_path = os.path.join(d, "props.json")
    if os.path.exists(props_path):
        with open(props_path) as f:
            return d, json.load(f)
    os.makedirs(d, exist_ok=True)
    if kind == "documents":
        props = documents(seed, size, os.path.join(d, "documents.parquet"))
    else:
        props = alpaca(seed, size, os.path.join(d, "alpaca.jsonl"))
    with open(props_path + ".tmp", "w") as f:
        json.dump(props, f)
    os.replace(props_path + ".tmp", props_path)
    return d, props
