"""Algorithmic validation of regex-matched PII candidates.

Second layer after the regex scan, cutting false positives before masking.
Semantics parity with the reference validator dispatch
(/root/reference/src/utils/validators.py:95-131), including its one subtle
but load-bearing choice: CPF candidates are accepted on *plausibility*
(11 digits, not all-equal), NOT on the official checksum — recall is
prioritized over precision, so checksum-invalid but plausible CPFs are
still masked (validators.py:109-112; README "fail-safe masking").

Checksum algorithms (CPF, CNPJ mod-11, CNH/DENATRAN) are public-domain
Brazilian government specs, written here from the spec.
"""

from __future__ import annotations


def digits_only(value: str) -> str:
    """Strip every non-digit character (ASCII fast path, unicode fallback)."""
    out = []
    for ch in value:
        if "0" <= ch <= "9":
            out.append(ch)
    return "".join(out)


def is_plausible_cpf(value: str) -> bool:
    """11 digits and not a single repeated digit — good enough to mask."""
    d = digits_only(value)
    return len(d) == 11 and d != d[0] * 11


def is_valid_cpf(value: str) -> bool:
    """Official CPF checksum (two mod-11 check digits)."""
    d = digits_only(value)
    if len(d) != 11 or d == d[0] * 11:
        return False
    nums = [ord(c) - 48 for c in d]
    dv1 = (sum(n * w for n, w in zip(nums[:9], range(10, 1, -1))) * 10) % 11
    dv1 = 0 if dv1 == 10 else dv1
    dv2 = (sum(n * w for n, w in zip(nums[:10], range(11, 1, -1))) * 10) % 11
    dv2 = 0 if dv2 == 10 else dv2
    return nums[9] == dv1 and nums[10] == dv2


def is_valid_cnpj(value: str) -> bool:
    """Official CNPJ mod-11 checksum (14 digits, two check digits)."""
    d = digits_only(value)
    if len(d) != 14 or d == d[0] * 14:
        return False
    nums = [ord(c) - 48 for c in d]
    w1 = (5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)
    w2 = (6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)
    dv1 = 11 - (sum(n * w for n, w in zip(nums[:12], w1)) % 11)
    dv1 = 0 if dv1 >= 10 else dv1
    dv2 = 11 - (sum(n * w for n, w in zip(nums[:13], w2)) % 11)
    dv2 = 0 if dv2 >= 10 else dv2
    return nums[12] == dv1 and nums[13] == dv2


def is_valid_cnh(value: str) -> bool:
    """DENATRAN CNH check-digit algorithm (11 digits)."""
    d = digits_only(value)
    if len(d) != 11 or d == d[0] * 11:
        return False
    nums = [ord(c) - 48 for c in d]
    dv1 = sum(n * (9 - i) for i, n in enumerate(nums[:9])) % 11
    dv1 = 0 if dv1 >= 10 else dv1
    dv2 = sum(n * (1 + i) for i, n in enumerate(nums[:9])) % 11
    dv2 = 0 if dv2 >= 10 else dv2
    return nums[9] == dv1 and nums[10] == dv2


def _check_email(value: str) -> bool:
    parts = value.split("@")
    if len(parts) != 2:
        return False
    local, domain = parts
    return bool(local) and bool(domain) and ".." not in value


def _check_cep(value: str) -> bool:
    return len(digits_only(value)) == 8


def _check_telefone(value: str) -> bool:
    return 10 <= len(digits_only(value)) <= 13


# Dispatch table. Missing types validate as True (reference defaults unknown
# types to valid — validators.py:109).
_VALIDATORS = {
    "CPF": is_plausible_cpf,  # plausibility, NOT checksum — see module doc
    "CNPJ": is_valid_cnpj,
    "CNH": is_valid_cnh,
    "EMAIL": _check_email,
    "CEP": _check_cep,
    "TELEFONE": _check_telefone,
}


def validate_pii(pii_type: str, value: str) -> bool:
    fn = _VALIDATORS.get(pii_type)
    return True if fn is None else fn(value)
