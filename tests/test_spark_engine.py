"""The reference vectors and the infer/prove properties on the Spark engine.

List inputs run on the driver-resident engine (rify_spark/local.py), so the
tests imported here exercise it under their own names. Importing them
collects them a second time, in this module, where the ``spark_engine``
fixture (conftest.py) sends ``api.infer`` and ``api.prove`` to Spark: the
same vectors and properties pin the Spark fixpoint.
"""

import pytest

from test_api_edge import (  # noqa: F401
    test_duplicate_goals_yield_single_proof,
    test_empty_rule_fires_nothing,
    test_proof_longer_chain_exceeds_recursion_limit_safety,
    test_prove_is_deterministic_across_runs,
    test_prove_without_encoding,
)
from test_infer import (  # noqa: F401
    test_ancestry,
    test_disconnected_body_cross_product,
    test_duplicate_premises_deduped,
    test_empty_claimgraph,
    test_empty_ruleset,
    test_graph_is_a_join_column,
    test_head_can_create_multiple_atoms,
    test_intra_atom_repeated_variable,
    test_non_string_terms,
    test_reasoning_is_already_complete,
    test_sum_of_consecutive_ints_is_odd,
    test_unconditional_head_equal_to_premise_not_reported,
    test_unconditional_rule as test_infer_unconditional_rule,
)
from test_property import (  # noqa: F401
    test_infer_matches_naive_oracle,
    test_prove_validate_roundtrip,
)
from test_prove import (  # noqa: F401
    test_ancestry_high_prove_and_verify,
    test_explicit_ethos_proof_and_validation,
    test_graph_separation,
    test_loading_of_rules_works,
    test_no_proof_is_generated_for_facts,
    test_novel_name,
    test_prove_already_stated,
    test_prove_multi_step,
    test_prove_single_step,
    test_search_space_exhausted,
    test_unconditional_rule as test_prove_unconditional_rule,
)
from test_rulesets import (  # noqa: F401
    test_owl_property_characteristics,
    test_rdfs_core_entailments,
    test_rdfs_graph_scoped,
)
from test_structured_terms import (  # noqa: F401
    test_serde_vector_through_infer,
    test_serde_vector_through_prove_and_validate,
)
from test_validate import (  # noqa: F401
    test_bad_rule_application,
    test_irrelevant_facts_ignored,
    test_no_such_rule,
)

pytestmark = pytest.mark.usefixtures("spark_engine")
