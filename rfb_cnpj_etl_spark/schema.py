"""Schema registry — the engine's single source of truth.

Mirrors the reference's ``SCHEMA`` dict ("Fonte da Verdade",
``src/rfb_cnpj_etl/db/schema.py:11-193``): every table the engine reads
or writes is declared here, explicitly, never inferred. The registry is
versioned; add-column schema evolution bumps the version and the diff is
recorded in the checkpoint manifest (reference analog: per-release RFB
layout changes, ``README.md:163-166``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Graft input model (BASELINE.json input_hint): lake table of source code.
# ---------------------------------------------------------------------------

#: Base state table: one current row per (repo, path).
CODE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)

#: MERGE key, the analog of the reference's composite PK
#: cnpj_basico(+ordem+dv) (db/schema.py:65,111).
CODE_KEY = ["repo", "path"]

#: Ordered change log = base columns + (lsn, op). op ∈ {upsert, delete}.
CHANGELOG_SCHEMA = T.StructType(
    list(CODE_SCHEMA.fields)
    + [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
    ]
)

#: Columns the engine adds to the state table beyond the user schema.
STATE_META_COLS = ["lsn", "content_sha256", "bucket"]

OP_UPSERT = "upsert"
OP_DELETE = "delete"

#: Number of key-hash buckets the state table is partitioned by. A MERGE
#: micro-batch only rewrites the buckets its keys land in, so this bounds
#: write amplification; at 100 TB you raise it (buckets ~= target file
#: count per snapshot), the algorithm is unchanged.
DEFAULT_STATE_BUCKETS = 32


# ---------------------------------------------------------------------------
# CNPJ-shaped schemas (reference parity). Column lists transcribed from the
# reference's declarative registry db/schema.py:11-193 — data definitions,
# not code. All-string on arrival (latin-1 ';' CSV, no header); typed
# columns are produced by the normalize stage (functions/normalize.py).
# ---------------------------------------------------------------------------


def _st(cols: list[str]) -> T.StructType:
    return T.StructType([T.StructField(c, T.StringType(), True) for c in cols])


CNPJ_SCHEMAS: dict[str, T.StructType] = {
    # dimension tables (schema.py:13-51): (code, description)
    "cnae": _st(["cod_cnae", "nome_cnae"]),
    "motivo": _st(["cod_motivo", "nome_motivo"]),
    "municipio": _st(["cod_municipio", "nome_municipio"]),
    "natureza_juridica": _st(["cod_natureza_juridica", "nome_natureza_juridica"]),
    "pais": _st(["cod_pais", "nome_pais"]),
    "qualificacao_socio": _st(["cod_qualificacao", "nome_qualificacao"]),
    # empresa (schema.py:54-75)
    "empresa": _st(
        [
            "cnpj_basico",
            "razao_social",
            "cod_natureza_juridica",
            "cod_qualificacao_responsavel",
            "capital_social",
            "cod_porte",
            "ente_federativo",
        ]
    ),
    # estabelecimento (schema.py:78-128), 31 columns
    "estabelecimento": _st(
        [
            "cnpj_basico",
            "cnpj_ordem",
            "cnpj_dv",
            "cod_matriz_filial",
            "nome_fantasia",
            "cod_situacao_cadastral",
            "data_situacao_cadastral",
            "cod_motivo_situacao",
            "nome_cidade_exterior",
            "cod_pais",
            "data_inicio_atividade",
            "cod_cnae_principal",
            "cod_cnae_secundario",
            "tipo_logradouro",
            "logradouro",
            "numero",
            "complemento",
            "bairro",
            "cep",
            "uf",
            "cod_municipio",
            "ddd_1",
            "telefone_1",
            "ddd_2",
            "telefone_2",
            "ddd_fax",
            "fax",
            "email",
            "situacao_especial",
            "data_situacao_especial",
        ]
    ),
    # simples (schema.py:131-146)
    "simples": _st(
        [
            "cnpj_basico",
            "opcao_simples",
            "data_opcao_simples",
            "data_exclusao_simples",
            "opcao_mei",
            "data_opcao_mei",
            "data_exclusao_mei",
        ]
    ),
    # socio (schema.py:149-173)
    "socio": _st(
        [
            "cnpj_basico",
            "cod_identificador_socio",
            "nome_socio",
            "cnpj_cpf_socio",
            "cod_qualificacao_socio",
            "data_entrada_sociedade",
            "cod_pais",
            "representante_legal",
            "nome_representante",
            "cod_qualificacao_representante",
            "cod_faixa_etaria",
        ]
    ),
    # bridge table exploded from cod_cnae_secundario (schema.py:176-192)
    "estabelecimento_cnae_sec": _st(
        ["cnpj_basico", "cnpj_ordem", "cnpj_dv", "cod_cnae"]
    ),
}

#: Date columns per table (normalize_dates targets,
#: utils/db_transformers.py:112-124).
CNPJ_DATE_COLS: dict[str, list[str]] = {
    "estabelecimento": [
        "data_situacao_cadastral",
        "data_inicio_atividade",
        "data_situacao_especial",
    ],
    "simples": [
        "data_opcao_simples",
        "data_exclusao_simples",
        "data_opcao_mei",
        "data_exclusao_mei",
    ],
    "socio": ["data_entrada_sociedade"],
}

#: BR-decimal columns per table (utils/db_transformers.py:109-110).
CNPJ_NUMERIC_BR_COLS: dict[str, list[str]] = {"empresa": ["capital_social"]}

#: Zip/file-stem → table routing (utils/db_batch_producer.py:18-28):
#: strip trailing digits; Estabelecimentos additionally feeds the bridge.
FILE_STEM_TO_TABLE = {
    "Empresas": "empresa",
    "Estabelecimentos": "estabelecimento",
    "Simples": "simples",
    "Socios": "socio",
    "Cnaes": "cnae",
    "Motivos": "motivo",
    "Municipios": "municipio",
    "Naturezas": "natureza_juridica",
    "Paises": "pais",
    "Qualificacoes": "qualificacao_socio",
}


class SchemaRegistry:
    """Versioned table-schema registry with add-column evolution.

    Reference analog: the user hand-edits ``SCHEMA`` when RFB changes a
    layout (README.md:163-166); here evolution is a first-class,
    manifest-recorded operation.
    """

    def __init__(self, base: T.StructType = CHANGELOG_SCHEMA) -> None:
        self.versions: list[T.StructType] = [base]

    @property
    def current(self) -> T.StructType:
        return self.versions[-1]

    @property
    def version(self) -> int:
        return len(self.versions) - 1

    def resume(self, columns: list[str], version: int) -> None:
        """Continue a history recorded elsewhere (an engine's manifest):
        ``version`` evolutions made, ``columns`` the newest schema's
        names. The record holds names only, so a column the base lacks
        comes back as ``NullType``; add-column evolution matches names
        (``CdcEngine.apply_batch``)."""
        known = {f.name for f in self.current.fields}
        added = [T.StructField(c, T.NullType()) for c in columns if c not in known]
        current = T.StructType([*self.current.fields, *added])
        self.versions = [*[self.versions[0]] * version, current]

    def evolve(self, new: T.StructType) -> list[T.StructField]:
        """Register a new schema; only add-column evolution is allowed.

        Returns the added fields. Raises on dropped/retyped columns
        (same contract an Iceberg ``ALTER TABLE ADD COLUMN`` flow gives).
        """
        old_fields = {f.name: f.dataType for f in self.current.fields}
        new_fields = {f.name: f.dataType for f in new.fields}
        dropped = set(old_fields) - set(new_fields)
        if dropped:
            raise ValueError(f"drop-column evolution not supported: {sorted(dropped)}")
        retyped = {
            n for n, t in new_fields.items() if n in old_fields and old_fields[n] != t
        }
        if retyped:
            raise ValueError(f"type-change evolution not supported: {sorted(retyped)}")
        added = [f for f in new.fields if f.name not in old_fields]
        if added:
            self.versions.append(new)
        return added
