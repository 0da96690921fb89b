"""One-shot trainer for the committed BPE merge table.

Standard BPE training (Sennrich et al. 2016, public algorithm): start
from characters, repeatedly merge the most frequent adjacent symbol
pair in the pre-token vocabulary. Deterministic: ties break on
lexicographic pair order, and every corpus source is seed-stable.

The synthetic documents fixture has only ~31 distinct pre-tokens —
nowhere near enough pair diversity for a production-scale table — so
the training corpus is a deterministic synthetic word stream (seeded
RNG, Zipfian word frequencies, English-ish letter distribution; see
main() for why the fixture is excluded). That yields a 32,768-merge
table — production-tokenizer vocabulary scale — exercising the runtime
merge loop at realistic depth while staying fully self-contained (no
external data).

The naive trainer recounts every pair each iteration — O(merges ×
vocab); at thousands of merges that's minutes. This one keeps an
incremental pair index (pair → containing words) and only touches
affected words per merge, the standard fast-BPE-trainer shape.

Run from the repo root:  python tools/train_bpe.py
"""

from __future__ import annotations

import os
import random
from collections import Counter

N_MERGES = 32768
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "s3_log_parser_spark", "functions", "bpe_merges.txt",
)

# English-ish letter frequencies (public knowledge) for realistic
# pair statistics in the synthetic stream
_LETTERS = "etaoinshrdlcumwfgypbvkjxqz"
_WEIGHTS = [
    12.7, 9.1, 8.2, 7.5, 7.0, 6.7, 6.3, 6.1, 6.0, 4.3, 4.0, 2.8, 2.8,
    2.4, 2.4, 2.2, 2.0, 2.0, 1.9, 1.5, 1.0, 0.8, 0.15, 0.15, 0.10, 0.07,
]


def synthetic_pretokens(
    n_words: int = 40_000, seed: int = 42
) -> Counter:
    """seed-stable Zipfian word stream: rank-r word has weight ~1/r."""
    rng = random.Random(seed)
    pretok: Counter = Counter()
    for r in range(1, n_words + 1):
        length = min(2 + int(rng.expovariate(0.35)), 18)
        word = "".join(rng.choices(_LETTERS, weights=_WEIGHTS, k=length))
        pretok[word] += max(1, int(2 * n_words / r))
        if r % 17 == 0:  # sprinkle digit runs
            pretok["".join(rng.choices("0123456789", k=rng.randint(1, 6)))] += r % 97 + 1
    return pretok


def train(pretok: Counter, n_merges: int) -> list[tuple[str, str]]:
    """incremental-index BPE trainer (deterministic tie-break)."""
    vocab: dict[tuple[str, ...], int] = {tuple(w): n for w, n in pretok.items()}
    pair_counts: Counter = Counter()
    pair_words: dict[tuple[str, str], set] = {}

    def add_word(word: tuple[str, ...], n: int) -> None:
        for i in range(len(word) - 1):
            p = (word[i], word[i + 1])
            pair_counts[p] += n
            pair_words.setdefault(p, set()).add(word)

    def drop_word(word: tuple[str, ...], n: int) -> None:
        for i in range(len(word) - 1):
            p = (word[i], word[i + 1])
            pair_counts[p] -= n
            s = pair_words.get(p)
            if s is not None:
                s.discard(word)
                if not s:
                    del pair_words[p]
                    del pair_counts[p]

    for word, n in vocab.items():
        add_word(word, n)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not pair_counts:
            break
        mx = max(pair_counts.values())
        if mx <= 0:
            break
        best = min(p for p, n in pair_counts.items() if n == mx)
        merges.append(best)
        merged = "".join(best)
        for word in list(pair_words.get(best, ())):
            n = vocab.pop(word)
            drop_word(word, n)
            w, out, i = list(word), [], 0
            while i < len(w):
                if i + 1 < len(w) and w[i] == best[0] and w[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(w[i])
                    i += 1
            new = tuple(out)
            if new in vocab:
                drop_word(new, vocab[new])
                vocab[new] += n
                add_word(new, vocab[new])
            else:
                vocab[new] = n
                add_word(new, n)
    return merges


def main() -> None:
    # train on the synthetic stream ONLY: blending in the fixture made
    # its 31 ultra-frequent words merge to single units by merge ~2k,
    # collapsing every fixture document's unit count to its pre-token
    # count — a trivially weak oracle. Training on the general corpus
    # and APPLYING to the fixture (partial merges) is both the
    # realistic deployment shape and a discriminating golden.
    merges = train(synthetic_pretokens(), N_MERGES)

    # one ``a b`` merge per line, read back by functions/bpe.py: the
    # synthetic alphabet is ASCII letters and digits, so no symbol
    # holds a space
    with open(OUT, "w", encoding="ascii", newline="\n") as f:
        f.writelines(f"{a} {b}\n" for a, b in merges)
    print(f"wrote {len(merges)} merges to {OUT}")


if __name__ == "__main__":
    main()
