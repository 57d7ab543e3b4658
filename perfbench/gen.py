"""Seeded input generator for the KG-construction benchmark.

Everything here is owned by the benchmark: the corpora, the planted
addresses, the near-duplicate clusters and the gold that the program's
output is checked against. Nothing imports the program, so a change to the
program cannot move a workload's inputs or its gold.

The gold follows the documented extraction contract:

- an address opens at a top-level region token (canonical name or one of
  the aliases 서울시 / 부산시 / 인천시) and extends over the following tokens
  that end in an admin/road suffix or are building numbers;
- the road gate keeps a mention only if it has >= 3 tokens and a road token;
- the canonical id is ``kaddr:`` + the canonical region name and the rest of
  the mention, with spaces replaced by ``/``;
- the edge table holds ``(repo:path, mentions_address, id)``,
  ``(id, located_in, region_id)`` and the static region backbone.

Every planted address is followed by a terminator token that cannot extend
a span, so the gold span is exactly the planted text.
"""

from __future__ import annotations

import hashlib
import random

# (region_id, canonical name, aliases the tagger's start lexicon knows).
# The provincial short forms (충북, 경남, ...) and 대구시-style aliases are
# left out: the default Arrow tagger does not open a span on them while the
# canonicalization dictionary does, so planting them would make the gold
# depend on which tagger engine runs.
REGIONS = [
    ("kr/seoul", "서울특별시", ["서울시"]),
    ("kr/busan", "부산광역시", ["부산시"]),
    ("kr/incheon", "인천광역시", ["인천시"]),
    ("kr/daegu", "대구광역시", []),
    ("kr/daejeon", "대전광역시", []),
    ("kr/gwangju", "광주광역시", []),
    ("kr/ulsan", "울산광역시", []),
    ("kr/gyeonggi", "경기도", []),
    ("kr/gangwon", "강원도", []),
    ("kr/chungbuk", "충청북도", []),
    ("kr/chungnam", "충청남도", []),
    ("kr/jeonbuk", "전라북도", []),
    ("kr/jeonnam", "전라남도", []),
    ("kr/gyeongbuk", "경상북도", []),
    ("kr/gyeongnam", "경상남도", []),
    ("kr/jeju", "제주특별자치도", []),
]

# Static region hierarchy (child, parent) that the edge table carries as its
# located_in backbone.
BACKBONE = [
    ("kr/seoul/gangnam", "kr/seoul"),
    ("kr/seoul/gangdong", "kr/seoul"),
    ("kr/busan/haeundae", "kr/busan"),
    ("kr/incheon/junggu", "kr/incheon"),
    ("kr/gyeonggi/seongnam", "kr/gyeonggi"),
    ("kr/gyeongbuk/gyeongju", "kr/gyeongbuk"),
    ("kr/jeju/seogwipo", "kr/jeju"),
    ("kr/gyeonggi/seongnam/bundang", "kr/gyeonggi/seongnam"),
]

DISTRICTS = [
    "강남구", "강동구", "중구", "동구", "서구", "남구", "북구", "해운대구",
    "수성구", "유성구", "광산구", "울주군", "양평군", "가평군", "수원시",
    "성남시", "청주시", "천안시", "전주시", "포항시", "창원시", "춘천시",
    "원주시", "제주시", "서귀포시", "경주시", "분당구", "달서구", "연수구",
    "마포구",
]
ROADS = [
    "테헤란로", "세종대로", "중앙로", "번영로", "해안로", "문화로", "시청로",
    "대학로", "공원로", "역전로", "은행나무길", "평화로", "한빛로", "달빛로",
    "새싹길", "가람로", "누리로", "송림로", "청계로", "동백로", "판교역로",
    "보문로", "월미로", "해맞이길", "솔숲길", "강변로", "산업로", "첨단로",
    "과학로", "미래로",
]
DONGS = ["역삼동", "삼성동", "우동", "송도동", "정자동", "연동", "신당동", "봉명동"]

# Hangul comment vocabulary: no region names, no token ending in an
# admin/road suffix, so these comments never produce a mention.
COMMENT_WORDS = [
    "사용자", "목록을", "조회한다", "데이터를", "저장한다", "설정", "값을",
    "반환한다", "오류", "처리", "함수", "초기화", "요청을", "보낸다", "결과",
    "캐시를", "비운다", "테스트", "입력", "검증", "주석", "임시", "수정",
    "필요", "확인",
]
CODE_WORDS = [
    "def", "return", "import", "value", "config", "self", "items", "data",
    "result", "index", "buffer", "request", "client", "handler", "yield",
    "async", "await", "match", "parse", "token", "stream", "batch", "cache",
    "spark", "frame", "schema", "record", "update", "select", "filter",
    "window", "shuffle", "commit", "branch", "merge", "apply", "reduce",
]

TERMINATOR = "입니다"

#: Share of the docs that sit in the one mega-repo (link-stage skew).
MEGA_SHARE = 0.5
#: Repos in the Zipf-ish tail beside the mega-repo.
N_REPOS = 300
#: Distinct planted addresses per seed; docs draw from it with a hot head.
ADDRESS_POOL = 4000


def _address(rng: random.Random) -> tuple[str, str, str]:
    """One planted road address: (surface text, canonical id, region id)."""
    rid, name, aliases = REGIONS[rng.randrange(len(REGIONS))]
    surface_region = aliases[0] if aliases and rng.random() < 0.5 else name
    rest = [DISTRICTS[rng.randrange(len(DISTRICTS))]] if rng.random() < 0.85 else []
    rest.append(ROADS[rng.randrange(len(ROADS))])
    if rng.random() < 0.3:
        rest.append(f"{rng.randint(1, 99)}번길")
    num = str(rng.randint(1, 999))
    if rng.random() < 0.2:
        num += f"-{rng.randint(1, 30)}"
    rest.append(num)
    tail = " ".join(rest)
    return (f"{surface_region} {tail}", f"kaddr:{name}/{tail.replace(' ', '/')}", rid)


def _decoy(rng: random.Random) -> str:
    """A Hangul mention the road gate must reject: region + district (+ dong),
    never a road or lot token."""
    _rid, name, aliases = REGIONS[rng.randrange(len(REGIONS))]
    region = aliases[0] if aliases and rng.random() < 0.5 else name
    parts = [region, DISTRICTS[rng.randrange(len(DISTRICTS))]]
    if rng.random() < 0.5:
        parts.append(DONGS[rng.randrange(len(DONGS))])
    return " ".join(parts)


def _code_line(rng: random.Random) -> str:
    n = rng.randint(3, 8)
    return "    " + " ".join(CODE_WORDS[rng.randrange(len(CODE_WORDS))] for _ in range(n))


def _comment_line(rng: random.Random) -> str:
    n = rng.randint(3, 7)
    return "# " + " ".join(COMMENT_WORDS[rng.randrange(len(COMMENT_WORDS))] for _ in range(n))


def _address_line(rng: random.Random, addr: str) -> str:
    if rng.random() < 0.5:
        return f"# 본사 주소: {addr} {TERMINATOR}"
    return f'OFFICE = " {addr} {TERMINATOR} "'


def _decoy_line(rng: random.Random) -> str:
    return f"# 지점 {_decoy(rng)} 근처 {TERMINATOR}"


def make_corpus(
    seed: int,
    n_docs: int,
    address_share: float,
    hangul_share: float,
    doc_id_base: int = 0,
) -> tuple[dict[str, list], set[tuple[str, str, str]]]:
    """A code corpus as columns plus its gold edge set (without backbone).

    ``address_share`` of the docs carry 1-3 planted addresses;
    ``hangul_share`` (>= address_share) of the docs carry Hangul at all —
    the rest of the Hangul docs hold comments and gate-rejected decoys
    only. MEGA_SHARE of the docs sit in one mega-repo. The address pool
    depends on ``seed`` only, so corpora made with one seed and different
    ``doc_id_base`` values (refresh deltas) share their hot addresses."""
    rng = random.Random(seed * 1_000_003 + doc_id_base)
    pool_rng = random.Random(seed * 7919 + 1)
    pool = [_address(pool_rng) for _ in range(ADDRESS_POOL)]
    cols: dict[str, list] = {
        "repo": [], "path": [], "commit": [], "lang": [], "content": [],
        "content_sha256": [], "doc_id": [],
    }
    gold: set[tuple[str, str, str]] = set()
    for i in range(n_docs):
        doc_id = doc_id_base + i
        if rng.random() < MEGA_SHARE:
            repo = "repo_mega"
        else:
            # Zipf-ish tail: low repo numbers are hotter
            repo = f"repo_{int(N_REPOS * rng.random() ** 2)}"
        path = f"src/m{doc_id % 97}/f{doc_id}.py"
        body = [_code_line(rng) for _ in range(rng.randint(6, 14))]
        u = rng.random()
        if u < address_share:
            for _ in range(rng.randint(1, 3)):
                # skewed draw: a hot head of addresses plus a long tail
                text, cid, rid = pool[int(ADDRESS_POOL * rng.random() ** 3)]
                body.insert(rng.randrange(len(body) + 1), _address_line(rng, text))
                gold.add((f"{repo}:{path}", "mentions_address", cid))
                gold.add((cid, "located_in", rid))
            if rng.random() < 0.3:
                body.insert(rng.randrange(len(body) + 1), _decoy_line(rng))
        elif u < hangul_share:
            body.insert(rng.randrange(len(body) + 1), _comment_line(rng))
            if rng.random() < 0.5:
                body.insert(rng.randrange(len(body) + 1), _decoy_line(rng))
        content = "\n".join(body) + "\n"
        cols["repo"].append(repo)
        cols["path"].append(path)
        cols["commit"].append(f"{rng.getrandbits(48):012x}")
        cols["lang"].append("python")
        cols["content"].append(content)
        cols["content_sha256"].append(hashlib.sha256(content.encode()).hexdigest())
        cols["doc_id"].append(doc_id)
    return cols, gold


def backbone_edges() -> set[tuple[str, str, str]]:
    return {(child, "located_in", parent) for child, parent in BACKBONE}


# --------------------------------------------------------------------------
# near-duplicate corpus
# --------------------------------------------------------------------------

DOC_WORDS = 60
VOCAB = 50000


def _words(rng: random.Random, n: int) -> list[str]:
    return [f"w{rng.randrange(VOCAB)}" for _ in range(n)]


def make_dup_corpus(
    seed: int, n_clusters: int, cluster_size: int, n_near_miss: int,
    n_singletons: int,
) -> tuple[dict[str, list], set[int]]:
    """Docs with planted near-duplicate clusters and the gold set of doc ids
    a keep-min-id dedup must drop.

    A cluster is ``cluster_size`` variants of a 60-word base doc, each
    replacing the LAST word with its own fresh word: any two members differ
    only in the one 3-shingle covering that word, so pairwise 3-shingle
    Jaccard is 57/59 = 0.97 (margin +0.17 over the 0.8 threshold). With a
    single private shingle per member, banded MinHash rarely misses a pair,
    so the planted clusters are recovered all but exactly. A near-miss doc replaces a run of 8 words of some cluster's
    base: Jaccard 45/71 = 0.63 against every member (margin -0.17) — a pair
    LSH buckets about half the time and verification must reject. Singletons share nothing. Doc ids are a
    seeded shuffle, so the min-id keeper sits anywhere in its cluster."""
    rng = random.Random(seed)
    docs: list[str] = []
    cluster_of: list[int] = []
    bases: list[list[str]] = []
    for c in range(n_clusters):
        base = _words(rng, DOC_WORDS)
        bases.append(base)
        for _ in range(cluster_size):
            w = list(base)
            w[-1] = f"v{rng.randrange(10 ** 9)}"
            docs.append(" ".join(w))
            cluster_of.append(c)
    for _ in range(n_near_miss):
        w = list(bases[rng.randrange(n_clusters)])
        for j in range(5, 13):
            w[j] = f"n{rng.randrange(10 ** 9)}"
        docs.append(" ".join(w))
        cluster_of.append(-1)
    for _ in range(n_singletons):
        docs.append(" ".join(_words(rng, DOC_WORDS)))
        cluster_of.append(-1)
    ids = list(range(len(docs)))
    rng.shuffle(ids)  # ids[k] = doc id of generated doc k
    keeper: dict[int, int] = {}
    for k, c in enumerate(cluster_of):
        if c >= 0:
            keeper[c] = min(keeper.get(c, ids[k]), ids[k])
    dropped = {
        ids[k] for k, c in enumerate(cluster_of) if c >= 0 and ids[k] != keeper[c]
    }
    by_id = sorted(range(len(docs)), key=ids.__getitem__)
    cols = {"doc_id": [ids[k] for k in by_id], "text": [docs[k] for k in by_id]}
    return cols, dropped
