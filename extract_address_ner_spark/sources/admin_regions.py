"""Korean administrative-region dictionary (si/gun/gu hierarchy + aliases).

The broadcast canonicalization dimension (SURVEY.md §2.9, FIXTURES.md §3).
Small static table — at cluster scale this is always a broadcast join / plain
broadcast variable, never a shuffle side. Region-name suffix conventions
satisfy the reference validation regexes (reference:
app/utils/preprocess.py:284-288).
"""

from __future__ import annotations

# (region_id, name, level, parent_id, aliases)
ADMIN_REGIONS: list[tuple[str, str, str, str | None, list[str]]] = [
    # top level: special city / metropolitan city / province (si/do)
    ("kr/seoul", "서울특별시", "si", None, ["서울시"]),
    ("kr/busan", "부산광역시", "si", None, ["부산시"]),
    ("kr/incheon", "인천광역시", "si", None, ["인천시"]),
    ("kr/daegu", "대구광역시", "si", None, ["대구시"]),
    ("kr/daejeon", "대전광역시", "si", None, ["대전시"]),
    ("kr/gwangju", "광주광역시", "si", None, ["광주시"]),
    ("kr/ulsan", "울산광역시", "si", None, ["울산시"]),
    ("kr/gyeonggi", "경기도", "do", None, []),
    ("kr/gangwon", "강원도", "do", None, []),
    ("kr/chungbuk", "충청북도", "do", None, ["충북"]),
    ("kr/chungnam", "충청남도", "do", None, ["충남"]),
    ("kr/jeonbuk", "전라북도", "do", None, ["전북"]),
    ("kr/jeonnam", "전라남도", "do", None, ["전남"]),
    ("kr/gyeongbuk", "경상북도", "do", None, ["경북"]),
    ("kr/gyeongnam", "경상남도", "do", None, ["경남"]),
    ("kr/jeju", "제주특별자치도", "do", None, ["제주도"]),
    # second level: gu / si / gun
    ("kr/seoul/gangnam", "강남구", "gu", "kr/seoul", []),
    ("kr/seoul/gangdong", "강동구", "gu", "kr/seoul", []),
    ("kr/busan/haeundae", "해운대구", "gu", "kr/busan", []),
    ("kr/incheon/junggu", "중구", "gu", "kr/incheon", []),
    ("kr/gyeonggi/seongnam", "성남시", "si2", "kr/gyeonggi", []),
    ("kr/gyeongbuk/gyeongju", "경주시", "si2", "kr/gyeongbuk", []),
    ("kr/jeju/seogwipo", "서귀포시", "si2", "kr/jeju", []),
    # third level: gu under city
    ("kr/gyeonggi/seongnam/bundang", "분당구", "gu", "kr/gyeonggi/seongnam", []),
]


def name_to_region_id() -> dict[str, str]:
    """canonical or alias name -> region_id (aliases resolve to the canonical
    region's id)."""
    out: dict[str, str] = {}
    for rid, name, _level, _parent, aliases in ADMIN_REGIONS:
        out[name] = rid
        for a in aliases:
            out[a] = rid
    return out


def hierarchy_edges() -> list[tuple[str, str, str]]:
    """(child_region_id, 'located_in', parent_region_id) triples from the
    static hierarchy — source of the graph's located_in backbone."""
    return [
        (rid, "located_in", parent)
        for rid, _name, _level, parent, _aliases in ADMIN_REGIONS
        if parent is not None
    ]
