"""Deterministic synthetic image+caption table (the input_hint shape).

Schema: (image_id string, bytes binary, w int, h int, fmt string,
caption string, phash long) — BASELINE.json input_hint.

Row content is a pure function of (seed, row index): generation is
embarrassingly parallel and partition-layout-independent, so the SAME table
materializes whether built on 1 core or 1000 executors (mapInPandas over
spark.range). Captions are templated from the reference oracle's grammar
families (FIXTURES.md A1/A3): valid-checksum and invalid-but-plausible
CPFs, all-same-digit CPFs (must NOT be masked — reference
validators.py:21-26), RG/CEP/phone/email variants, dictionary names and
cargos, false-positive bait, toxicity words, plus quality-rule triggers
(short/empty text, non-Portuguese, symbol spam, repeated lines, lorem
ipsum, braces, high-perplexity mash). `phash` is deliberately skewed — a
few hot values cover ~20% of rows — to exercise salted repartitioning.
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd

from ..images import encode_image

SCHEMA_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)

LOSSY_QUALITY = 97  # real baseline JPEG: vs-original PSNR >= 40 dB and
# re-encode PSNR >= 53 dB on the synthetic gradients (see images/jpeg_codec)

_FIRST = [
    "Ana", "Bruno", "Carla", "Carlos", "Daniela", "Eduardo", "Fernanda",
    "Gabriel", "Helena", "João", "Juliana", "Larissa", "Lucas", "Maria",
    "Mariana", "Pedro", "Rafael", "Renata", "Ricardo", "Sofia", "Thiago",
]
_SURNAME = [
    "Silva", "Souza", "Oliveira", "Santos", "Pereira", "Lima", "Carvalho",
    "Ribeiro", "Almeida", "Costa", "Martins", "Rocha", "Barbosa",
]
_CARGOS = [
    "gerente de vendas", "analista de sistemas pleno", "engenheiro de software",
    "técnico em enfermagem", "coordenadora de marketing", "desenvolvedor full stack",
    "médica", "advogado", "motorista", "supervisor de logística sênior",
]
_STREETS = ["Rua das Flores", "Avenida Paulista", "Travessa do Comércio",
            "Alameda Santos", "Rua da Praia", "Avenida Brasil"]
_CITIES = ["São Paulo", "Rio de Janeiro", "Curitiba", "Recife", "Salvador",
           "Porto Alegre", "Campinas"]
_ORGS = ["Banco Nacional", "Grupo Horizonte", "Empresa Aurora Ltda.",
         "Instituto Vida", "Companhia das Águas", "Universidade Central"]
_TOXIC = ["idiota", "imbecil", "palhaço", "vagabundo", "cretino", "stupid"]
_FP_BAIT = ["Bom dia", "RH", "CPF", "boa tarde", "contato"]

_SCENES = [
    "A fotografia mostra {who} sorrindo para a câmera no escritório.",
    "Na imagem, {who} aparece ao lado de colegas durante a reunião.",
    "Retrato de {who} em frente ao prédio da empresa.",
    "{who} apresenta o relatório anual para a equipe reunida na sala.",
    "Foto do crachá de {who} registrada pela equipe de segurança.",
    "Imagem digitalizada do formulário de admissão de {who}.",
]
_EN_SENTS = [
    "The picture shows an employee smiling at the office camera today.",
    "A scanned onboarding form with several fields filled in by hand.",
    "Two colleagues review the annual report in a bright meeting room.",
]
_ES_SENTS = [
    "La imagen muestra a un empleado sonriendo en la oficina central.",
    "Dos colegas revisan el informe anual en una sala luminosa.",
]


def _cpf_check_digits(d9: List[int]) -> List[int]:
    dv1 = (sum(n * w for n, w in zip(d9, range(10, 1, -1))) * 10) % 11
    dv1 = 0 if dv1 == 10 else dv1
    d10 = d9 + [dv1]
    dv2 = (sum(n * w for n, w in zip(d10, range(11, 1, -1))) * 10) % 11
    dv2 = 0 if dv2 == 10 else dv2
    return [dv1, dv2]


def _fmt_cpf(digs: List[int], style: int) -> str:
    s = "".join(map(str, digs))
    if style == 0:
        return f"{s[:3]}.{s[3:6]}.{s[6:9]}-{s[9:]}"
    if style == 1:
        return s
    return f"{s[:3]}{s[3:6]}{s[6:9]}-{s[9:]}"


def _mk_cpf(rng, valid: bool) -> str:
    d9 = list(rng.integers(0, 10, 9))
    if len(set(d9)) == 1:  # avoid accidental all-equal root
        d9[0] = (d9[0] + 1) % 10
    dv = _cpf_check_digits([int(x) for x in d9])
    if not valid:
        dv = [(dv[0] + 1) % 10, dv[1]]
    return _fmt_cpf([int(x) for x in d9] + dv, int(rng.integers(0, 3)))


def _mk_rg(rng) -> str:
    a = rng.integers(1, 100)
    return f"{a}.{rng.integers(0,1000):03d}.{rng.integers(0,1000):03d}-{rng.integers(0,10)}"


def _mk_cep(rng) -> str:
    s = f"{rng.integers(0,100000):05d}{rng.integers(0,1000):03d}"
    return f"{s[:5]}-{s[5:]}" if rng.random() < 0.8 else s


def _mk_phone(rng) -> str:
    ddd = rng.integers(11, 99)
    n1 = rng.integers(0, 100000)
    n2 = rng.integers(0, 10000)
    style = int(rng.integers(0, 4))
    if style == 0:
        return f"({ddd}) 9{n1%10000:04d}-{n2:04d}"
    if style == 1:
        return f"+55 {ddd} 9{n1%10000:04d}-{n2:04d}"
    if style == 2:
        return f"{ddd} {n1%10000+10000:05d} {n2:04d}".replace(" ", " ", 1)
    return f"({ddd}) {n1%9000+1000:04d}-{n2:04d}"


def _mk_email(rng) -> str:
    f = _FIRST[int(rng.integers(0, len(_FIRST)))].lower().replace("ã", "a").replace("é", "e")
    s = _SURNAME[int(rng.integers(0, len(_SURNAME)))].lower()
    dom = ["empresa.com.br", "exemplo.com", "corp.net"][int(rng.integers(0, 3))]
    return f"{f}.{s}@{dom}"


def _mk_name(rng) -> str:
    f = _FIRST[int(rng.integers(0, len(_FIRST)))]
    conn = " da " if rng.random() < 0.25 else " "
    return f + conn + _SURNAME[int(rng.integers(0, len(_SURNAME)))]


def _pick(rng, xs):
    return xs[int(rng.integers(0, len(xs)))]


def _pii_clause(rng) -> str:
    k = int(rng.integers(0, 8))
    if k == 0:
        return f"CPF {_mk_cpf(rng, valid=bool(rng.random() < 0.7))}"
    if k == 1:
        return f"RG {_mk_rg(rng)}"
    if k == 2:
        return f"CEP {_mk_cep(rng)}"
    if k == 3:
        return f"telefone {_mk_phone(rng)}"
    if k == 4:
        return f"email {_mk_email(rng)}"
    if k == 5:
        return f"mora na {_pick(rng, _STREETS)} em {_pick(rng, _CITIES)}"
    if k == 6:
        return f"trabalha como {_pick(rng, _CARGOS)} no {_pick(rng, _ORGS)}"
    return f"colega {_mk_name(rng)}"


def make_caption(rng) -> str:
    """Weighted draw over content families (pure function of rng state)."""
    r = rng.random()
    who = _mk_name(rng)
    if r < 0.50:  # clean PT caption with 1-3 PII clauses
        base = _pick(rng, _SCENES).format(who=who)
        n_pii = int(rng.integers(1, 4))
        clauses = ", ".join(_pii_clause(rng) for _ in range(n_pii))
        bait = f" {_pick(rng, _FP_BAIT)}." if rng.random() < 0.3 else ""
        return f"{base} Dados: {clauses}.{bait}"
    if r < 0.60:  # clean PT caption, no PII
        return _pick(rng, _SCENES).format(who="uma pessoa") + \
            " A equipe de recursos humanos arquivou o documento com cuidado."
    if r < 0.65:  # toxic word embedded
        return (_pick(rng, _SCENES).format(who=who)
                + f" Um colega escreveu que ele é um {_pick(rng, _TOXIC)} no mural.")
    if r < 0.72:  # non-Portuguese
        return _pick(rng, _EN_SENTS if rng.random() < 0.6 else _ES_SENTS)
    if r < 0.76:  # too short
        return _pick(rng, ["foto", "sem legenda", "imagem digitalizada"])
    if r < 0.79:  # symbol spam
        return "### " * 6 + "anúncio #### promoção ### " + "#" * 10
    if r < 0.82:  # repeated lines
        line = f"A foto mostra {who} no escritório central."
        return "\n".join([line] * 5 + ["Fim do registro fotográfico agora."])
    if r < 0.84:  # lorem ipsum
        return ("Lorem ipsum dolor sit amet, consectetur adipiscing elit, "
                "sed do eiusmod tempor incididunt ut labore et dolore.")
    if r < 0.86:  # template braces
        return "A imagem mostra {nome_do_funcionario} na recepção da empresa hoje."
    if r < 0.89:  # high-perplexity mash
        return " ".join("".join(_pick(rng, "bcdfghjklmnpqrstvwxz")
                                for _ in range(int(rng.integers(4, 9))))
                        for _ in range(12))
    if r < 0.91:  # empty-ish
        return "" if rng.random() < 0.5 else "   "
    if r < 0.95:  # all-same-digit CPF: plausibility check must REJECT masking
        d = int(rng.integers(0, 10))
        cpf = _fmt_cpf([d] * 11, int(rng.integers(0, 2)))
        return (f"A imagem mostra um cartaz de exemplo com o CPF {cpf} "
                "usado apenas para fins de demonstração no treinamento.")
    # PII-dense multiline record
    return (f"Registro fotográfico de {who}, {_pick(rng, _CARGOS)}.\n"
            f"Documentos: CPF {_mk_cpf(rng, True)}, RG {_mk_rg(rng)}.\n"
            f"Contato: {_mk_email(rng)}, {_mk_phone(rng)}.\n"
            f"Endereço: {_pick(rng, _STREETS)}, {_pick(rng, _CITIES)}, CEP {_mk_cep(rng)}.")


_HOT_PHASHES = np.array([0x11111111, 0x22222222, 0x33333333], dtype=np.int64)


def make_image(rng, w: int, h: int) -> np.ndarray:
    """Smooth two-gradient image + mild noise (compresses well, PSNR-friendly)."""
    gx = np.linspace(0, 255, w)
    gy = np.linspace(0, 255, h)
    a, b, c = rng.random(3)
    r = np.add.outer(gy * a, gx * (1 - a)) / 1.0
    g = np.add.outer(gy * (1 - b), gx * b)
    bl = np.add.outer(gy * c, gx * c) / max(2 * c, 0.5)
    img = np.stack([r, g, np.clip(bl, 0, 255)], axis=-1)
    img = img + rng.normal(0, 4.0, img.shape)
    return np.clip(img, 0, 255).astype(np.uint8)


def gen_row(seed: int, idx: int) -> dict:
    rng = np.random.default_rng((seed, idx))
    w = int(rng.integers(24, 65))
    h = int(rng.integers(24, 65))
    fmt = "png" if rng.random() < 0.5 else "jpeg"
    img = make_image(rng, w, h)
    data = encode_image(img, fmt, quality=LOSSY_QUALITY)
    caption = make_caption(rng)
    if rng.random() < 0.20:
        phash = int(_HOT_PHASHES[int(rng.integers(0, len(_HOT_PHASHES)))])
    else:
        phash = int(rng.integers(-(2 ** 62), 2 ** 62, dtype=np.int64))
    return {
        "image_id": f"img_{idx:08d}",
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption,
        "phash": phash,
    }


def gen_pandas(n: int, seed: int = 42) -> pd.DataFrame:
    return pd.DataFrame([gen_row(seed, i) for i in range(n)])


def build_input_table(spark, n: int, seed: int = 42, num_partitions: int = 32):
    """Distributed deterministic build: ids fan out over executors, each
    partition generates its own rows (no driver-side materialization)."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame([gen_row(seed, int(i)) for i in ids])

    return (
        spark.range(0, n, numPartitions=num_partitions)
        .mapInPandas(_gen, schema=SCHEMA_DDL)
    )


def write_input_table(spark, path: str, n: int, seed: int = 42,
                      num_partitions: int = 32) -> None:
    build_input_table(spark, n, seed, num_partitions).write.mode("overwrite").parquet(path)
