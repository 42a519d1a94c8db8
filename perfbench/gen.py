"""Seeded input generator for the two enrichment workloads.

The same seed always writes the same CSV. Texts are ASCII words from a
fixed vocabulary, with no quotes, backslashes or newlines, so the CSV
parses the same way everywhere. Row ids count from 1 in file order, and
every prompt is `item <id>: <text>` (the benchmark's template).

- flat: FLAT_ROWS rows, text length log-uniform in 3..150 words.
- conversations: CONV_ROWS rows in CONV_GROUPS conversations whose sizes
  follow a Zipf law (size of rank r ∝ 1/r). The sizes and names are
  fixed; the seed draws the texts and how the conversations interleave
  in the file. A conversation's turn order is its rows' file order.
"""
import csv
import hashlib
import math
import random

FLAT_ROWS = 400
CONV_ROWS = 400
CONV_GROUPS = 60
FAIL_PER_ROWS = 1000  # about one injected 503 per this many flat rows

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "da", "fu", "go",
              "ha", "je", "pi", "qu", "ro", "su", "te", "wa"]


def vocabulary():
    rng = random.Random(7)
    return ["".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 4)))
            for _ in range(500)]


def prompt(row_id, text):
    return f"item {row_id}: {text}"


def inject_ids(seed, ids, k):
    """The k row ids whose first attempt fails: the smallest seeded hashes."""
    return sorted(ids, key=lambda i: hashlib.sha256(f"{seed}:{i}".encode()).digest())[:k]


def zipf_sizes(rows, groups):
    weights = [1.0 / r for r in range(1, groups + 1)]
    total = sum(weights)
    raw = [max(1.0, rows * w / total) for w in weights]
    sizes = [int(x) for x in raw]
    # largest remainders take the rows rounding left over
    for i in sorted(range(groups), key=lambda i: raw[i] - sizes[i], reverse=True):
        if sum(sizes) >= rows:
            break
        sizes[i] += 1
    return sizes


def _text(rng, vocab, lo, hi):
    n = int(round(math.exp(rng.uniform(math.log(lo), math.log(hi)))))
    return " ".join(rng.choice(vocab) for _ in range(n))


def _properties(rows, group_col):
    sizes = {}
    for r in rows:
        key = r[group_col] if group_col else r["id"]
        sizes[key] = sizes.get(key, 0) + 1
    lengths = sorted(len(prompt(r["id"], r["text"]).encode()) for r in rows)
    return {"rows": len(rows), "groups": len(sizes), "longest_group": max(sizes.values()),
            "prompt_bytes_mean": sum(lengths) / len(lengths),
            "prompt_bytes_p95": lengths[math.ceil(0.95 * len(lengths)) - 1]}


def make(workload, seed, path):
    """Writes the workload's CSV to `path`; returns (rows, properties,
    ids failing their first attempt)."""
    rng = random.Random(f"{workload}:{seed}")
    vocab = vocabulary()
    if workload == "enrich_flat":
        rows = [{"id": str(i), "text": _text(rng, vocab, 3, 150)}
                for i in range(1, FLAT_ROWS + 1)]
        fields, group_col = ["id", "text"], None
        fail = inject_ids(seed, [int(r["id"]) for r in rows],
                          max(1, round(FLAT_ROWS / FAIL_PER_ROWS)))
    elif workload == "enrich_conversations":
        labels = [f"conv{g:03d}" for g, size in
                  enumerate(zipf_sizes(CONV_ROWS, CONV_GROUPS), 1) for _ in range(size)]
        rng.shuffle(labels)
        rows = [{"id": str(i), "conversation": g, "text": _text(rng, vocab, 4, 30)}
                for i, g in enumerate(labels, 1)]
        fields, group_col = ["id", "conversation", "text"], "conversation"
        fail = []
    else:
        raise ValueError(f"no generated input for workload {workload}")
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=fields, lineterminator="\n")
        w.writeheader()
        w.writerows(rows)
    return rows, _properties(rows, group_col), fail
