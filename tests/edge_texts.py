"""Unicode-hostile text corpora for the expression-equivalence pins:
each rewritten expression is held bit-equal to the shape it replaced
(re-stated verbatim next to its test) on these inputs plus seeded fuzz,
so the hash oracles can never drift through an expression-shape change.
"""

from __future__ import annotations

import random

# strings chosen to stress every divergence channel between the old
# transform(sequence, substr) shingling and the (?s)-dotall regex
# scan: line separators the ASCII normalizer leaves intact (U+2028/2029/
# NEL — Java regex "." excludes them without DOTALL), astral code points
# (regex "." and substr must both count code points, not UTF-16 units),
# CJK/accents, VT/FF (Java \s strips these in normalize), and the
# shorter-than-k / empty / NULL degenerate contract.
SHINGLE_EDGE_TEXTS = [
    None,
    "",
    "abc",  # shorter than k=4
    "abcd",
    "hello world hello world",
    "line separator andnel",
    "emoji \U0001f600\U0001f601\U0001f602 tail",
    "\U0001f600\U0001f600\U0001f600\U0001f600\U0001f600\U0001f600",
    "éèêë àâäî ö ü ß ẞ İstanbul",
    "中文文本测试 中文文本",
    "tab\tvt\x0bff\x0ccr\rmix spaces  collapse",
    "ＦｕｌｌＷｉｄｔｈ ｔｅｘｔ １２３",
    "a" * 3 + " " + "b" * 3,
]


def shingle_fuzz_texts(n=300, seed=1405):
    rng = random.Random(seed)
    alphabet = "ab \t\n\x0b\x0c\rcdé中\U0001f600  0123  "
    return [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 50)))
        for _ in range(n)
    ]


# word/token-level edges: multi-word texts, whitespace-only, long runs
TOKEN_EDGE_TEXTS = [
    None,
    "",
    "   ",
    "abc",
    "abcd efgh",
    "hello world hello world again and again",
    "line separator andnel",
    "emoji \U0001f600\U0001f601\U0001f602 tail words here",
    "\U0001f600\U0001f600\U0001f600\U0001f600\U0001f600\U0001f600",
    "éèêë àâäî ö ü ß ẞ İstanbul",
    "中文文本测试 中文文本 再来 一次",
    "tab\tvt\x0bff\x0ccr\rmix spaces  collapse",
    "ＦｕｌｌＷｉｄｔｈ ｔｅｘｔ １２３",
    "one two three four five six seven eight nine ten eleven twelve thirteen fourteen",
    "dup dup dup dup dup dup dup dup dup",
    "x" * 300,
]


def token_fuzz_texts(n=300, seed=1542):
    rng = random.Random(seed)
    alpha = "ab c é\U0001f600 \x0b x.!"
    return [
        "".join(rng.choice(alpha) for _ in range(rng.randint(0, 80)))
        for _ in range(n)
    ]
