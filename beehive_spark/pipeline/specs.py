"""Declarative merge specs for every table the reference moves.

The reference implements one hand-written mover per table family
(person-users.js, location.js, patient.js, patient-programs.js,
provider.js, visit.js, encounter.js, obs.js, gaac.js — ~3,000 LoC of
near-identical insert preparers).  Here each table is a TableSpec and
a single generic runner (merge.py) interprets them all; the hard-coded
topological order of orchestrator.js:67-92 becomes data (SPECS order
only matters for consolidation premaps; FK remapping is two-phase so
creator/person cycles need no recursive tree walk, see SURVEY.md §3.3).

Modes
-----
- move:        copy all src rows, assign fresh contiguous dest pks
               (utils.js:161-213 moveAllTableRecords)
- consolidate: match src to dst on business keys -> mapping; move only
               unmatched rows (utils.js:83-150 consolidateTableRecords)
- anti_insert: insert rows whose (string) pk is absent in dst; pk is
               its own mapping (roles/privileges,
               person-users.js:399-443)
- link:        composite-key link table, INSERT-IGNORE semantics =
               anti join on all columns after FK remap
               (person-users.js:359-397 role_privilege/role_role/
               user_role)
- pk_mapped:   pk is itself a FK into another table's mapping
               (patient.patient_id == person_id, patient.js:9-36)
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Audit FK column groups (FIXTURES.md; e.g. person-users.js:17-20 /
# visit.js:8-10): all remap through the users mapping.
AUDIT_V_FKS = {"creator": "users", "changed_by": "users", "voided_by": "users"}
AUDIT_R_FKS = {"creator": "users", "changed_by": "users", "retired_by": "users"}
AUDIT_C_FKS = {"creator": "users"}  # tables without changed_by/retired_by


@dataclass
class TableSpec:
    name: str
    pk: str
    mode: str = "move"  # move | consolidate | anti_insert | link | pk_mapped
    fks: dict[str, str] = field(default_factory=dict)  # col -> ref table
    self_fks: list[str] = field(default_factory=list)  # intra-table FKs
    business_keys: list[str] = field(default_factory=list)
    # business-key columns that must be remapped before comparison
    # (utils.js:101-104), col -> ref table
    business_premaps: dict[str, str] = field(default_factory=dict)
    order_col: str | None = None  # deterministic id-assignment order
    pk_from: str | None = None  # pk_mapped: table whose mapping maps the pk
    has_uuid: bool = True
    # FK columns that intentionally pass through unmapped (shared
    # dictionaries like concept/form/order — not moved by the reference)
    passthrough: list[str] = field(default_factory=list)
    # FK columns whose rows are DROPPED when unmapped instead of nulled
    # (P5, reference person-users.js:79-80,116-117,391-394, provider.js:14-15)
    drop_unmapped: list[str] = field(default_factory=list)


SPECS: list[TableSpec] = [
    # --- persons & users (person-users.js) -------------------------------
    TableSpec("person", "person_id", "move", fks=dict(AUDIT_V_FKS),
              order_col="date_created"),
    TableSpec("users", "user_id", "move",
              fks={"person_id": "person", **AUDIT_R_FKS},
              order_col="date_created"),
    TableSpec("person_name", "person_name_id", "move",
              fks={"person_id": "person", **AUDIT_V_FKS},
              order_col="date_created", drop_unmapped=["person_id"]),
    TableSpec("person_address", "person_address_id", "move",
              fks={"person_id": "person", **AUDIT_V_FKS},
              drop_unmapped=["person_id"]),
    TableSpec("person_attribute_type", "person_attribute_type_id", "consolidate",
              fks=dict(AUDIT_R_FKS), business_keys=["name"]),
    TableSpec("person_attribute", "person_attribute_id", "move",
              fks={"person_id": "person",
                   "person_attribute_type_id": "person_attribute_type",
                   **AUDIT_V_FKS}),
    TableSpec("relationship_type", "relationship_type_id", "consolidate",
              fks=dict(AUDIT_R_FKS), business_keys=["a_is_to_b", "b_is_to_a"]),
    TableSpec("relationship", "relationship_id", "move",
              fks={"person_a": "person", "person_b": "person",
                   "relationship": "relationship_type", **AUDIT_V_FKS}),
    TableSpec("role", "role", "anti_insert", business_keys=["role"]),
    TableSpec("privilege", "privilege", "anti_insert", business_keys=["privilege"]),
    TableSpec("role_privilege", "role", "link",
              business_keys=["role", "privilege"], has_uuid=False),
    TableSpec("role_role", "parent_role", "link",
              business_keys=["parent_role", "child_role"], has_uuid=False),
    TableSpec("user_role", "user_id", "link",
              fks={"user_id": "users"}, business_keys=["user_id", "role"],
              has_uuid=False, drop_unmapped=["user_id"]),
    # --- locations (location.js) ----------------------------------------
    TableSpec("location", "location_id", "consolidate",
              fks=dict(AUDIT_R_FKS), self_fks=["parent_location"],
              business_keys=["name"]),
    # --- patients (patient.js) ------------------------------------------
    TableSpec("patient", "patient_id", "pk_mapped",
              fks=dict(AUDIT_V_FKS), pk_from="person", has_uuid=False),
    TableSpec("patient_identifier_type", "patient_identifier_type_id",
              "consolidate", fks=dict(AUDIT_R_FKS), business_keys=["name"]),
    TableSpec("patient_identifier", "patient_identifier_id", "move",
              fks={"patient_id": "person",
                   "identifier_type": "patient_identifier_type",
                   "location_id": "location", **AUDIT_V_FKS}),
    # --- providers (provider.js) ----------------------------------------
    TableSpec("provider", "provider_id", "move",
              fks={"person_id": "person", **AUDIT_R_FKS},
              drop_unmapped=["person_id"]),
    TableSpec("provider_attribute_type", "provider_attribute_type_id",
              "consolidate", fks=dict(AUDIT_R_FKS), business_keys=["name"]),
    TableSpec("provider_attribute", "provider_attribute_id", "move",
              fks={"provider_id": "provider",
                   "attribute_type_id": "provider_attribute_type",
                   **AUDIT_V_FKS}),
    # --- visits (visit.js) ----------------------------------------------
    TableSpec("visit_type", "visit_type_id", "consolidate",
              fks=dict(AUDIT_R_FKS), business_keys=["name"]),
    TableSpec("visit", "visit_id", "move",
              fks={"patient_id": "person", "visit_type_id": "visit_type",
                   "location_id": "location", **AUDIT_V_FKS},
              passthrough=["indication_concept_id"]),
    # --- encounters (encounter.js) --------------------------------------
    TableSpec("encounter_type", "encounter_type_id", "consolidate",
              fks=dict(AUDIT_C_FKS | {"retired_by": "users"}),
              business_keys=["name"]),
    TableSpec("encounter_role", "encounter_role_id", "consolidate",
              fks=dict(AUDIT_R_FKS), business_keys=["name"]),
    TableSpec("encounter", "encounter_id", "move",
              fks={"encounter_type": "encounter_type", "patient_id": "person",
                   "location_id": "location", "visit_id": "visit",
                   **AUDIT_V_FKS},
              passthrough=["form_id"]),
    TableSpec("encounter_provider", "encounter_provider_id", "move",
              fks={"encounter_id": "encounter", "provider_id": "provider",
                   "encounter_role_id": "encounter_role", **AUDIT_V_FKS}),
    # --- obs (obs.js) ----------------------------------------------------
    TableSpec("obs", "obs_id", "move",
              fks={"person_id": "person", "encounter_id": "encounter",
                   "location_id": "location",
                   "creator": "users", "voided_by": "users"},
              self_fks=["obs_group_id", "previous_version"],
              passthrough=["concept_id", "order_id", "value_coded",
                           "value_drug", "value_coded_name_id"],
              order_col="obs_id"),
    # --- programs (patient-programs.js) ----------------------------------
    TableSpec("program", "program_id", "consolidate",
              fks={"creator": "users", "changed_by": "users"},
              business_keys=["name"], passthrough=["concept_id",
                                                   "outcomes_concept_id"]),
    TableSpec("program_workflow", "program_workflow_id", "consolidate",
              fks={"creator": "users", "changed_by": "users"},
              business_keys=["program_id", "concept_id"],
              business_premaps={"program_id": "program"}),
    TableSpec("program_workflow_state", "program_workflow_state_id",
              "consolidate",
              fks={"creator": "users", "changed_by": "users"},
              business_keys=["program_workflow_id", "concept_id",
                             "initial", "terminal"],
              business_premaps={"program_workflow_id": "program_workflow"}),
    TableSpec("patient_program", "patient_program_id", "move",
              fks={"patient_id": "person", "program_id": "program",
                   "location_id": "location", **AUDIT_V_FKS},
              passthrough=["outcome_concept_id"]),
    TableSpec("patient_state", "patient_state_id", "move",
              fks={"patient_program_id": "patient_program",
                   "state": "program_workflow_state", **AUDIT_V_FKS}),
    # --- gaac module (gaac.js; optional tables, skipped when absent) -----
    TableSpec("gaac_affinity_type", "gaac_affinity_type_id", "consolidate",
              fks={"creator": "users", "retired_by": "users"},
              business_keys=["name"]),
    TableSpec("gaac_reason_leaving_type", "gaac_reason_leaving_type_id",
              "consolidate",
              fks={"creator": "users", "retired_by": "users"},
              business_keys=["name"]),
    TableSpec("gaac", "gaac_id", "move",
              fks={"focal_patient_id": "person",
                   "affinity_type": "gaac_affinity_type",
                   "location_id": "location", **AUDIT_V_FKS}),
    TableSpec("gaac_member", "gaac_member_id", "move",
              fks={"gaac_id": "gaac", "member_id": "person",
                   "reason_leaving_type": "gaac_reason_leaving_type",
                   **AUDIT_V_FKS}),
]


SPEC_BY_NAME = {s.name: s for s in SPECS}


def fk_pairs(available: set[str]) -> list[tuple[str, str, str, str]]:
    """(child_table, fk_col, parent_table, parent_pk) integrity pairs,
    derived from the specs exactly like the reference derives them from
    information_schema.key_column_usage (integrity-checks.js:65-79)."""
    pairs = []
    for s in SPECS:
        if s.name not in available:
            continue
        for col, ref in s.fks.items():
            ref_spec = SPEC_BY_NAME[ref]
            if ref in available:
                pairs.append((s.name, col, ref, ref_spec.pk))
        for col in s.self_fks:
            pairs.append((s.name, col, s.name, s.pk))
    return pairs
