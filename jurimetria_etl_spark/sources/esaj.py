"""Legacy connectors — SURVEY §2.1 S6 (e-SAJ HTML scrape) and S7 (DataJud
aggregate-stats REST).

Reimplements the observable behavior of
``/root/reference/legacy/legacy_datajud_connector.py``:
- S6: parse the ``tabelaResultados`` table, skip the header row, drop rows
  with <6 cells (W3 guard, ``:62-63``), project 5 columns with the date
  reformatted ``dd/mm/yyyy`` → ``yyyy-mm-dd`` (F4, ``:65-72``), paginate
  ``paginaConsulta`` pages until non-200 / empty page / max_pages
  (``:102-116``).
- S7: GET ``/estatisticas`` and project ``tempo_medio_dias`` +
  ``taxa_provimento_percent`` (``:128-146``).

Transports are injectable; parsing is regex-based (bs4 not assumed).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from jurimetria_etl_spark.schemas import ESAJ_ROW_SCHEMA
from jurimetria_etl_spark.session import local_frame

# transport(url, params) -> (status_code, text_or_json)
HtmlTransport = Callable[[str, dict[str, Any]], tuple[int, str]]
JsonTransport = Callable[[str, dict[str, Any]], tuple[int, dict[str, Any]]]

_TABLE_RE = re.compile(
    r'<table[^>]*id=["\']tabelaResultados["\'][^>]*>(.*?)</table>', re.S | re.I
)
_ROW_RE = re.compile(r"<tr[^>]*>(.*?)</tr>", re.S | re.I)
_CELL_RE = re.compile(r"<t[dh][^>]*>(.*?)</t[dh]>", re.S | re.I)
_TAG_RE = re.compile(r"<[^>]+>")


def _cell_text(cell_html: str) -> str:
    """F9 — strip tags, decode HTML entities, collapse whitespace runs
    (the reference's bs4 ``get_text(strip=True)`` does all three:
    '<td>Execu\u00e7\u00e3o &amp; <b>Tributos</b></td>' must read
    'Execu\u00e7\u00e3o & Tributos', not a literal '&amp;' with a
    double space)."""
    import html as _html

    text = _html.unescape(_TAG_RE.sub(" ", cell_html))
    return re.sub(r"\s+", " ", text).strip()


def _reformat_date(br_date: str) -> str:
    """F4 — ``dd/mm/yyyy`` → ``yyyy-mm-dd``; pass through otherwise."""
    m = re.match(r"^(\d{2})/(\d{2})/(\d{4})$", br_date.strip())
    return f"{m.group(3)}-{m.group(2)}-{m.group(1)}" if m else br_date.strip()


def parse_esaj_table(html: str) -> list[dict[str, str]]:
    """S6 parse: header row skipped, <6-cell rows dropped (W3), 6th cell
    discarded (P4)."""
    m = _TABLE_RE.search(html)
    if not m:
        return []
    rows = _ROW_RE.findall(m.group(1))
    out: list[dict[str, str]] = []
    for row_html in rows[1:]:  # skip header
        cells = [_cell_text(c) for c in _CELL_RE.findall(row_html)]
        if len(cells) < 6:
            continue
        out.append(
            {
                "processo": cells[0],
                "classe": cells[1],
                "assunto": cells[2],
                "orgao": cells[3],
                "data": _reformat_date(cells[4]),
            }
        )
    return out


def esaj_query(
    classe: str | None = None,
    data_inicio: str = "2024-01-01",
    data_fim: str | None = None,
) -> dict[str, Any]:
    """The e-SAJ search form parameters the reference sends with every page
    (``/root/reference/legacy/legacy_datajud_connector.py:89-97``)."""
    import datetime as _dt

    return {
        "conversationId": "",
        "dadosConsulta.originados": "N",
        "classe": classe or "",
        "dataIni": data_inicio,
        "dataFim": data_fim or _dt.date.today().isoformat(),
        "paginaConsulta": 1,
        "localPesquisa.cdLocal": 1,
        "tipoNumero": "UNIFICADO",
    }


def fetch_esaj_rows(
    transport: HtmlTransport,
    base_url: str = "https://esaj.tjce.jus.br/cpopg/search.do",
    max_pages: int | None = None,
    params: dict[str, Any] | None = None,
    pause: float = 0.0,
) -> list[dict[str, str]]:
    """S6 pagination: stop on non-200, empty page, or max_pages; optional
    politeness pause between pages (the reference sleeps 1 s, ``:116``)."""
    import time as _time

    out: list[dict[str, str]] = []
    query = dict(params or {})
    page = 1
    seen_processos: set[str] = set()
    while True:
        if max_pages is not None and page > max_pages:
            break
        query["paginaConsulta"] = page
        status, html = transport(base_url, query)
        if status != 200:
            break
        rows = parse_esaj_table(html)
        if not rows:
            break
        # Repeated-page guard (the datajud connector's seen-cursor set,
        # sources/datajud.py): servers commonly CLAMP an out-of-range
        # paginaConsulta to the last (or first) page, which would loop
        # forever with max_pages=None.  Keyed on the page's process
        # NUMBERS — the row identity — against everything seen so far,
        # not whole-page content equality: two legitimate pages with
        # identical non-key cells (r8 ADVICE) still advance because
        # their processos differ, while a clamp to ANY earlier page
        # contributes no unseen processo and terminates.
        page_ids = {r["processo"] for r in rows}
        if page_ids <= seen_processos:
            break
        # A page may PARTIALLY overlap earlier pages (server re-shuffles
        # rows across page boundaries between requests); append only the
        # rows whose processo is unseen so overlapped rows aren't
        # duplicated in the output (r9 ADVICE).
        out.extend(r for r in rows if r["processo"] not in seen_processos)
        seen_processos |= page_ids
        page += 1
        if pause:
            _time.sleep(pause)
    return out


def esaj_scan(
    spark: SparkSession,
    transport: HtmlTransport,
    base_url: str = "https://esaj.tjce.jus.br/cpopg/search.do",
    max_pages: int | None = None,
    params: dict[str, Any] | None = None,
) -> DataFrame:
    """S6 scan.  ``params`` defaults to the reference's full search-form
    payload (``esaj_query()``) — the form fields must ride EVERY page
    request, or a live scrape queries an unfiltered/invalid form."""
    rows = fetch_esaj_rows(
        transport, base_url, max_pages, params=params or esaj_query()
    )
    return local_frame(spark, rows, ESAJ_ROW_SCHEMA)


def fetch_datajud_stats(
    transport: JsonTransport,
    classe: str,
    ano: int,
    metrica: str = "tempo_medio",
    base_url: str = "https://api-publica.datajud.cnj.jus.br/estatisticas",
) -> dict[str, Any]:
    """S7 — single stats record projection (P5)."""
    status, body = transport(
        base_url,
        {"siglaTribunal": "TJCE", "classe": classe, "ano": ano, "metrica": metrica},
    )
    if status != 200:
        return {}
    return {
        "classe": classe,
        "ano": ano,
        "tempo_medio_dias": body.get("tempo_medio_dias"),
        "taxa_provimento_percent": body.get("taxa_provimento_percent"),
    }


def requests_html_transport(url: str, params: dict[str, Any]) -> tuple[int, str]:
    """Live HTML transport (the reference's ``sess.get(..., timeout=30)``)."""
    import requests  # lazy; absent in the test container

    resp = requests.get(url, params=params, timeout=30)
    return resp.status_code, resp.text


def requests_json_transport(
    url: str, params: dict[str, Any]
) -> tuple[int, dict[str, Any]]:
    """Live JSON transport for the stats endpoint (``:138``)."""
    import requests  # lazy; absent in the test container

    resp = requests.get(url, params=params, timeout=30)
    if resp.status_code != 200:
        return resp.status_code, {}
    return resp.status_code, resp.json()
