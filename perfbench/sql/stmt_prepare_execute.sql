-- check: none
PREPARE q_nat FROM SELECT n_name, n_nationkey FROM nation WHERE n_nationkey < ? AND n_name LIKE ? ORDER BY n_nationkey
;
EXECUTE q_nat USING 10, 'NATION%'
;
-- check: none
DEALLOCATE PREPARE q_nat
